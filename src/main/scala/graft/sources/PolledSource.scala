package graft.sources

import graft.core.{Message, Source}
import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, Executors}
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.jdk.CollectionConverters._

/** The pull→push adapter (O10) — the reference's poller
  * (/root/reference/x/poller/poller.go:15-99) re-expressed as a DataSource
  * V2 `MicroBatchStream`, Spark's native micro-batch source contract.
  *
  * The reference wraps a batch `Poll(ctx, max) ([]Message, ack, err)` API
  * and coalesces the ack to the last message of each polled batch
  * (poller.go:83-99). Here the mapping is exact:
  *
  *   - `Poll(max)`       → [[Poller.poll]] invoked from `latestOffset()`
  *                         once per trigger (the micro-batch admission
  *                         point), up to `batchSize` messages — the
  *                         reference's `WithBatchSize` knob.
  *   - ack-on-durable    → [[MicroBatchStream.commit]]: Spark commits the
  *                         end offset only after the batch's outputs are
  *                         durably written, and we forward ONE
  *                         [[Poller.ack]] for the whole committed range —
  *                         the coalesced last-ack, at micro-batch
  *                         granularity (SURVEY §7.4.1).
  *
  * Spark calls `commit(end)` for batch N while constructing batch N+1
  * (MicroBatchExecution.cleanUpLastExecutedMicroBatch), so the ack for a
  * batch lags until the next batch exists; a query stopped right after
  * its final batch leaves that batch un-acked and the poller redelivers
  * it next run — exactly the reference's at-least-once shutdown contract
  * (unacked messages are redelivered, SURVEY §1.4).
  *
  * Polled messages are buffered on the driver keyed by offset until
  * committed, so an uncommitted batch is replayable within the run (task
  * retries, speculative re-reads). Like the reference's poller, the
  * wrapped API itself is non-replayable across process restarts: delivery
  * is at-least-once, and the poller's own ack tracking is the durable
  * cursor. This is the standard Spark shape for callback/queue APIs
  * (socket and rate sources buffer the same way).
  *
  * The data itself travels inside the [[InputPartition]]s: each one is a
  * [[PolledPartition]], one flat byte block of its messages in the
  * [[PolledBlock]] format plus a row count, decoded by the partition
  * reader straight into rows. The payload must be flat because Spark's
  * `MicroBatchScanExec.inputPartitions` is a lazy val that is NOT
  * transient: every closure that captures the physical plan carries the
  * batch's whole payload in its task binary, as well as each task its own
  * partition. Java serialization of a block is one `byte[]` copy, where
  * a sequence of message objects would be one object graph per message,
  * serialized on the driver's single stream and scheduler threads before
  * any task starts.
  * The blocks of each polled batch are encoded on a background thread as
  * soon as the poll returns, so the encoding is off the trigger's serial
  * path (offset log, planning) as far as that path is long enough to hide
  * it. Batch mode reads the same blocks, so the source has one
  * row-conversion path.
  */
trait Poller extends Serializable {
  /** Pull up to `max` messages; empty means nothing available right now. */
  def poll(max: Int): Seq[Message]

  /** Durability callback: `n` messages (one contiguous committed range)
    * are fully written downstream. Called once per committed micro-batch —
    * the coalesced last-ack (poller.go:83-99). */
  def ack(n: Long): Unit = ()
}

/** Driver-side registry connecting the user's in-process [[Poller]] object
  * to the DSv2 stream (which Spark instantiates reflectively from the
  * format class name, so it can't hold the object directly). */
object PollerRegistry {
  /** Encodes each polled range's blocks while the stream thread goes on
    * to the offset log and planning. One thread: ranges are encoded in
    * poll order. */
  private implicit lazy val encoder: ExecutionContext =
    ExecutionContext.fromExecutorService(Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, "polled-source-encoder")
      t.setDaemon(true)
      t
    })

  /** The input partitions of the offset range [start, end), being encoded. */
  private final case class Prepared(start: Long, end: Long,
      parts: Future[Array[PolledPartition]])

  final class Handle(val poller: Poller) {
    // offset semantics: message i (0-based) lives at offset i+1; an offset
    // N means "N messages observed". committedUpTo ≤ buffered range start.
    private val buf = new ArrayBuffer[Message]()
    private var base: Long = 0L // offset of buf(0)
    private var latest: Long = 0L
    private var committed: Long = 0L
    private var prepared: Prepared = _

    def fetch(max: Int): Long = synchronized {
      val got = poller.poll(max)
      if (got.nonEmpty) {
        buf ++= got
        val n = got.size
        val k = parallelism
        prepared = Prepared(latest, latest + n,
          Future(PolledBlock.split(got.toIndexedSeq, 0, n, k)))
        latest += n
      }
      latest
    }

    /** The input partitions of [start, end): the background encoding when
      * the range is the last poll's (the usual micro-batch), else encoded
      * here from the buffer (a range that spans polls, or is planned
      * again after a restart). */
    def partitions(start: Long, end: Long): Array[PolledPartition] = {
      val ready = synchronized {
        val p = prepared
        if (p != null && p.start == start && p.end == end) { prepared = null; p }
        else null
      }
      if (ready != null) Await.result(ready.parts, Duration.Inf)
      else synchronized {
        require(start >= base,
          s"offset range [$start,$end) below committed horizon $base — " +
            "polled sources are not replayable across commits")
        PolledBlock.split(buf, (start - base).toInt, (end - base).toInt, parallelism)
      }
    }

    def commit(end: Long): Unit = synchronized {
      if (end > committed) {
        poller.ack(end - committed)
        buf.dropInPlace((end - base).toInt)
        base = end
        committed = end
        if (prepared != null && prepared.end <= end) prepared = null
      }
    }

    def latestOffset: Long = synchronized(latest)

    private def parallelism: Int = SparkContext.getOrCreate().defaultParallelism
  }

  private val handles = new ConcurrentHashMap[String, Handle]()

  def register(p: Poller): String = {
    val id = UUID.randomUUID().toString
    handles.put(id, new Handle(p))
    id
  }

  def get(id: String): Handle = {
    val h = handles.get(id)
    require(h != null, s"no poller registered under id $id")
    h
  }

  def unregister(id: String): Unit = handles.remove(id)
}

/** Engine-facing source: wrap a [[Poller]] and stream it. Batch mode
  * drains the poller to exhaustion (the degenerate finite pipeline). */
final case class PolledSource(poller: Poller, batchSize: Int = 100) extends Source {
  val pollerId: String = PollerRegistry.register(poller)

  def stream(spark: SparkSession): DataFrame =
    spark.readStream
      .format(classOf[PolledSourceProvider].getName)
      .option("pollerId", pollerId)
      .option("batchSize", batchSize)
      .load()

  def batch(spark: SparkSession): DataFrame = {
    val all = Iterator.continually(poller.poll(batchSize))
      .takeWhile(_.nonEmpty).flatten.toIndexedSeq
    poller.ack(all.size.toLong)
    PolledBlock.dataFrame(spark, all)
  }

  def close(): Unit = PollerRegistry.unregister(pollerId)
}

/** DSv2 plumbing: provider → table → scan → [[PolledMicroBatchStream]]. */
class PolledSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Message.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = new PolledTable
}

private[sources] class PolledTable extends Table with SupportsRead {
  override def name(): String = "graft-polled"
  override def schema(): StructType = Message.schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = Message.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new PolledMicroBatchStream(
            options.get("pollerId"),
            options.getInt("batchSize", 100))
      }
    }
}

/** A monotone count-of-messages-observed offset. */
final case class PollOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

private[graft] class PolledMicroBatchStream(pollerId: String, batchSize: Int)
    extends MicroBatchStream {
  private def handle = PollerRegistry.get(pollerId)

  override def initialOffset(): Offset = PollOffset(0L)

  /** Admission point: one poll per trigger, capped at batchSize (the
    * reference's WithBatchSize rate limit). */
  override def latestOffset(): Offset = PollOffset(handle.fetch(batchSize))

  override def deserializeOffset(json: String): Offset = PollOffset(json.toLong)

  /** The committed [start,end) range is split into up to
    * `defaultParallelism` InputPartitions so a high-rate poller's batch
    * fans out across executor cores instead of bottlenecking one task
    * (the poll itself is serial per the reference contract — poller.go —
    * but the downstream transform work need not be). */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[PollOffset].n
    val e = end.asInstanceOf[PollOffset].n
    if (e <= s) Array.empty
    else handle.partitions(s, e).toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PolledReaderFactory

  /** Offset commit = the coalesced last-ack (poller.go:83-99). */
  override def commit(end: Offset): Unit =
    handle.commit(end.asInstanceOf[PollOffset].n)

  override def stop(): Unit = ()
}

/** `rows` messages encoded into one [[PolledBlock]]. */
private[graft] final case class PolledPartition(block: Array[Byte], rows: Int)
    extends InputPartition

private[sources] class PolledReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    PolledBlock.reader(partition.asInstanceOf[PolledPartition])
}

/** The block format of a [[PolledPartition]]: its messages back to back,
  * each as
  *
  * {{{
  *   key    str        str  = int32 n, then n UTF-8 bytes; n = -1 is null
  *   value  bin        bin  = int32 n, then n bytes;       n = -1 is null
  *   topic  str
  *   attrs  int32 m, then m × (str key, str value), in the map's iteration
  *          order (the order ArrayBasedMapData gives); m = -1 is null
  * }}}
  *
  * with big-endian int32s. Strings are encoded to UTF-8 as
  * `String.getBytes(UTF_8)` does (an unpaired surrogate becomes '?'). */
private[graft] object PolledBlock {
  private final val Null = -1

  /** `msgs` as a batch DataFrame of [[Message.schema]]: at most
    * `defaultParallelism` blocks, decoded straight into Catalyst rows —
    * the one row-conversion path of every polled source's batch mode. */
  def dataFrame(spark: SparkSession,
      msgs: collection.IndexedSeq[Message]): DataFrame = {
    val parts = split(msgs, 0, msgs.size, spark.sparkContext.defaultParallelism)
    val rows = spark.sparkContext.parallelize(parts.toSeq, math.max(1, parts.length))
      .mapPartitions(_.flatMap { p =>
        val r = reader(p)
        Iterator.continually(r).takeWhile(_.next()).map(_.get())
      })
    GraftShims.internalCreateDataFrame(spark, rows, Message.schema)
  }

  /** Messages [from, until) of `msgs` as at most `k` partitions of
    * near-equal row counts, in order; none for an empty range. */
  def split(msgs: collection.IndexedSeq[Message], from: Int, until: Int,
      k: Int): Array[PolledPartition] = {
    val n = until - from
    if (n <= 0) Array.empty
    else {
      val parts = k.max(1).min(n)
      val chunk = (n + parts - 1) / parts
      Array.tabulate((n + chunk - 1) / chunk) { i =>
        encode(msgs, from + i * chunk, math.min(until, from + (i + 1) * chunk))
      }
    }
  }

  /** Messages [from, until) of `msgs` as one block, sized in a first pass
    * and written in a second, into one array. */
  def encode(msgs: collection.IndexedSeq[Message], from: Int, until: Int): PolledPartition = {
    var size = 0L
    var i = from
    while (i < until) { size += encodedSize(msgs(i)); i += 1 }
    require(size <= Int.MaxValue - 16,
      s"polled partition of ${until - from} messages is $size bytes, over the 2 GB array limit")
    val block = new Array[Byte](size.toInt)
    var pos = 0
    i = from
    while (i < until) {
      val m = msgs(i)
      pos = putStr(m.key, block, pos)
      pos = putBin(m.value, block, pos)
      pos = putStr(m.topic, block, pos)
      val attrs = m.attributes
      if (attrs == null) pos = putInt(Null, block, pos)
      else {
        pos = putInt(attrs.size, block, pos)
        val it = attrs.iterator
        while (it.hasNext) {
          val (k, v) = it.next()
          pos = putStr(v, block, putStr(k, block, pos))
        }
      }
      i += 1
    }
    PolledPartition(block, until - from)
  }

  private def encodedSize(m: Message): Long = {
    var size = 4L * 4 + strSize(m.key) + strSize(m.topic)
    if (m.value != null) size += m.value.length
    val attrs = m.attributes
    if (attrs != null) {
      val it = attrs.iterator
      while (it.hasNext) { val (k, v) = it.next(); size += 8 + strSize(k) + strSize(v) }
    }
    size
  }

  private def strSize(s: String): Int = if (s == null) 0 else utf8Length(s)

  /** UTF-8 byte length of `s`, as `putUtf8` writes it. */
  private def utf8Length(s: String): Int = {
    val n = s.length
    var len = n
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c >= 0x80) {
        if (c < 0x800) len += 1
        else if (!Character.isSurrogate(c)) len += 2
        else if (isPair(s, i)) { len += 2; i += 1 }
      }
      i += 1
    }
    len
  }

  private def isPair(s: String, i: Int): Boolean =
    Character.isHighSurrogate(s.charAt(i)) && i + 1 < s.length &&
      Character.isLowSurrogate(s.charAt(i + 1))

  private def putInt(v: Int, b: Array[Byte], at: Int): Int = {
    b(at) = (v >>> 24).toByte
    b(at + 1) = (v >>> 16).toByte
    b(at + 2) = (v >>> 8).toByte
    b(at + 3) = v.toByte
    at + 4
  }

  private def getInt(b: Array[Byte], at: Int): Int =
    (b(at) << 24) | ((b(at + 1) & 0xff) << 16) | ((b(at + 2) & 0xff) << 8) | (b(at + 3) & 0xff)

  private def putBin(v: Array[Byte], b: Array[Byte], at: Int): Int =
    if (v == null) putInt(Null, b, at)
    else {
      System.arraycopy(v, 0, b, putInt(v.length, b, at), v.length)
      at + 4 + v.length
    }

  private def putStr(s: String, b: Array[Byte], at: Int): Int =
    if (s == null) putInt(Null, b, at)
    else {
      val end = putUtf8(s, b, at + 4)
      putInt(end - at - 4, b, at)
      end
    }

  private def putUtf8(s: String, b: Array[Byte], at: Int): Int = {
    val n = s.length
    var p = at
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c < 0x80) { b(p) = c.toByte; p += 1 }
      else if (c < 0x800) {
        b(p) = (0xc0 | (c >> 6)).toByte
        b(p + 1) = (0x80 | (c & 0x3f)).toByte
        p += 2
      } else if (!Character.isSurrogate(c)) {
        b(p) = (0xe0 | (c >> 12)).toByte
        b(p + 1) = (0x80 | ((c >> 6) & 0x3f)).toByte
        b(p + 2) = (0x80 | (c & 0x3f)).toByte
        p += 3
      } else if (isPair(s, i)) {
        val cp = Character.toCodePoint(c, s.charAt(i + 1))
        b(p) = (0xf0 | (cp >> 18)).toByte
        b(p + 1) = (0x80 | ((cp >> 12) & 0x3f)).toByte
        b(p + 2) = (0x80 | ((cp >> 6) & 0x3f)).toByte
        b(p + 3) = (0x80 | (cp & 0x3f)).toByte
        p += 4
        i += 1
      } else { b(p) = '?'.toByte; p += 1 }
      i += 1
    }
    p
  }

  /** The rows of `p` in [[Message.schema]], decoded in place into one
    * reused row whose strings are views of the block. */
  def reader(p: PolledPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val b = p.block
      private var pos = 0
      private var left = p.rows
      private val row = new GenericInternalRow(4)
      private val noAttributes =
        new ArrayBasedMapData(new GenericArrayData(Array.empty[Any]), new GenericArrayData(Array.empty[Any]))

      private def str(): UTF8String = {
        val n = getInt(b, pos)
        pos += 4
        if (n == Null) null
        else { val s = UTF8String.fromBytes(b, pos, n); pos += n; s }
      }

      override def next(): Boolean = left > 0 && {
        left -= 1
        row.update(0, str())
        val n = getInt(b, pos)
        pos += 4
        if (n == Null) row.setNullAt(1)
        else {
          row.update(1, java.util.Arrays.copyOfRange(b, pos, pos + n))
          pos += n
        }
        row.update(2, str())
        val m = getInt(b, pos)
        pos += 4
        if (m == Null) row.setNullAt(3)
        else if (m == 0) row.update(3, noAttributes)
        else {
          val keys = new Array[Any](m)
          val values = new Array[Any](m)
          var i = 0
          while (i < m) { keys(i) = str(); values(i) = str(); i += 1 }
          row.update(3, new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(values)))
        }
        true
      }

      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
}
