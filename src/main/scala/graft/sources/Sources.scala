package graft.sources

import graft.core.{Message, Source}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Source connectors (SURVEY §2.2). Each wraps a Spark reader in the
  * engine's envelope schema where the reference's analogue is
  * byte-oriented.
  */

/** Columnar table scan — the workhorse for the testdata tables. */
final case class ParquetSource(path: String, maxFilesPerTrigger: Option[Int] = None)
    extends Source {
  def batch(spark: SparkSession): DataFrame = spark.read.parquet(path)
  def stream(spark: SparkSession): DataFrame = {
    val base = spark.readStream.schema(spark.read.parquet(path).schema)
    maxFilesPerTrigger.fold(base)(n => base.option("maxFilesPerTrigger", n))
      .parquet(path)
  }
}

/** The reference's Scanner (x/scanner/scanner.go:14-105): split a byte
  * stream into messages on a configurable delimiter. Files stand in for
  * the io.Reader; `lineSep` carries the custom multi-byte delimiter.
  * Emits the envelope schema with the token as `value`.
  */
final case class ScannerSource(path: String, delimiter: String = "\n")
    extends Source {
  private def envelope(df: DataFrame): DataFrame =
    df.select(
      lit("").as("key"),
      col("value").cast("binary").as("value"),
      lit("").as("topic"),
      map(lit("source"), lit(path)).as("attributes"))

  def batch(spark: SparkSession): DataFrame =
    envelope(spark.read.option("lineSep", delimiter).text(path))
  def stream(spark: SparkSession): DataFrame =
    envelope(spark.readStream.option("lineSep", delimiter).text(path))
}

/** Localhost/remote TCP byte-stream poller — the syslog-daemon connector
  * shape (S7; the reference's kawad listeners, README.md:149-298): a real
  * network boundary wrapped as a [[Poller]], so delivery rides the O10
  * micro-batch machinery and inherits its offset-commit ack
  * (at-least-once) contract. The scanner's custom-delimiter splitting
  * ([[ScannerSource]]) is applied to the raw byte stream: a token split
  * across TCP segments is reassembled in the pending buffer, and the
  * final unterminated token is flushed on EOF — the scanner's
  * final-token rule (x/scanner/scanner.go:61-78).
  *
  * poll() never blocks beyond `probeTimeoutMs`: it drains whatever the
  * kernel has buffered, then makes one timeout-bounded 1-byte probe read
  * so peer close (EOF) is detected promptly. Connects lazily on first
  * poll; ingest is driver-side (like every [[Poller]] — the single-daemon
  * reader shape), with fan-out to executors happening in the micro-batch.
  */
final class TcpLinePoller(host: String, port: Int,
    delimiter: String = "\n", probeTimeoutMs: Int = 5,
    connectTimeoutMs: Int = 10000) extends Poller {
  private val delim = delimiter.getBytes("UTF-8")
  require(delim.nonEmpty, "delimiter must be non-empty")
  @transient private var sock: java.net.Socket = _
  @transient private var in: java.io.InputStream = _
  @transient private var pending: scala.collection.mutable.ArrayBuffer[Byte] = _
  @transient private var eof = false

  private def attrs: Map[String, String] =
    Map("source" -> s"tcp://$host:$port")

  private def indexOfDelim(from: Int): Int = {
    var i = from
    val n = pending.length - delim.length
    while (i <= n) {
      var j = 0
      while (j < delim.length && pending(i + j) == delim(j)) j += 1
      if (j == delim.length) return i
      i += 1
    }
    -1
  }

  def poll(max: Int): Seq[Message] = synchronized {
    if (pending == null) pending = new scala.collection.mutable.ArrayBuffer[Byte]()
    if (sock == null && !eof) {
      // explicit connect timeout: an unroutable/firewalled daemon must
      // fail the first poll in bounded time, not block for the kernel's
      // SYN-retry minutes (poll is synchronized — a hang here stalls
      // every caller)
      sock = new java.net.Socket()
      sock.connect(new java.net.InetSocketAddress(host, port), connectTimeoutMs)
      sock.setSoTimeout(probeTimeoutMs)
      in = sock.getInputStream
    }
    if (!eof) {
      // an abrupt peer close (RST → SocketException/IOException from
      // read/available) is EOF for a log stream, not a query-killing
      // error: the connection is gone either way, and the final-token
      // flush below must still happen for whatever was buffered
      try {
        val chunk = new Array[Byte](8192)
        var n = 0
        while (n >= 0 && in.available() > 0) {
          n = in.read(chunk, 0, math.min(chunk.length, in.available()))
          if (n > 0) pending ++= chunk.view.slice(0, n)
        }
        if (n < 0) eof = true
        else {
          // bounded probe: distinguishes "no data yet" from peer close
          try {
            val b = in.read()
            if (b < 0) eof = true else pending += b.toByte
          } catch { case _: java.net.SocketTimeoutException => () }
        }
      } catch {
        case _: java.io.IOException => eof = true
      }
      if (eof) close()
    }
    // single forward scan + ONE compaction: each delimiter search resumes
    // where the last token ended, and the consumed prefix is removed once
    // per poll — linear in bytes, where rescan-from-0 + per-token
    // remove(0, n) is O(messages × bufferSize)
    val out = Vector.newBuilder[Message]
    var produced = 0
    var start = 0
    var idx = indexOfDelim(start)
    while (produced < max && idx >= 0) {
      out += Message("", pending.view.slice(start, idx).toArray, "tcp", attrs)
      start = idx + delim.length
      produced += 1
      idx = indexOfDelim(start)
    }
    if (start > 0) pending.remove(0, start)
    if (eof && produced < max && pending.nonEmpty && indexOfDelim(0) < 0) {
      out += Message("", pending.toArray, "tcp", attrs) // final token rule
      pending.clear()
    }
    out.result()
  }

  /** Peer closed and observed — poll() can still return buffered tokens
    * after this turns true; drain until an empty poll. */
  def isEof: Boolean = synchronized(eof)

  /** Close the connection if open (idempotent) — called on peer EOF and
    * by [[TcpSocketSource.close]], so a query stopped before the daemon
    * closes does not leak the socket for the JVM lifetime. */
  def close(): Unit = synchronized {
    if (sock != null && !sock.isClosed)
      try sock.close() catch { case _: java.io.IOException => () }
  }
}

/** Engine-facing TCP source: [[TcpLinePoller]] through [[PolledSource]]
  * for streaming (micro-batch offsets = ack cursor); batch mode reads the
  * socket to EOF eagerly — the degenerate finite pipeline, like
  * [[ScannerSource.batch]]. stream and batch are ALTERNATIVE modes, not
  * concurrent: each opens its own connection, and a TCP byte stream is
  * consumed once — calling both on one source splits the daemon's
  * output between two connections. */
final case class TcpSocketSource(host: String, port: Int,
    delimiter: String = "\n", batchSize: Int = 100) extends Source {
  private val streamPoller = new TcpLinePoller(host, port, delimiter)
  private val polled = PolledSource(streamPoller, batchSize)
  def stream(spark: SparkSession): DataFrame = polled.stream(spark)
  def batch(spark: SparkSession): DataFrame = {
    val poller = new TcpLinePoller(host, port, delimiter, probeTimeoutMs = 50)
    val all = scala.collection.mutable.ArrayBuffer[Message]()
    var done = false
    while (!done) { // each empty poll costs ≤ probeTimeoutMs, never spins hot
      val got = poller.poll(batchSize)
      all ++= got
      done = poller.isEof && got.isEmpty
    }
    PolledBlock.dataFrame(spark, all)
  }
  def close(): Unit = { streamPoller.close(); polled.close() }
}

/** In-memory source for tests — the reference's memory connector
  * (x/memory/memory.go:10-31) ≈ `MemoryStream[Message]`. Each `add`
  * block becomes ONE input partition of the micro-batch scan — chunk
  * the feed for parallelism (MemoryStream's numPartitions re-split was
  * measured 2× SLOWER at micro-batch sizes and is deliberately not
  * exposed; see StreamBench's negative-result note). */
final class MemoryMessageSource(spark: SparkSession) extends Source {
  implicit private val enc: org.apache.spark.sql.Encoder[Message] =
    Encoders.product[Message]
  val stream0: MemoryStream[Message] =
    new MemoryStream[Message](0, spark, None)
  def add(ms: Seq[Message]): Unit = stream0.addData(ms)
  def batch(spark: SparkSession): DataFrame = stream0.toDF()
  def stream(spark: SparkSession): DataFrame = stream0.toDF()
}

/** Synthetic rate source (rows/sec) wrapped in the envelope — useful as a
  * load generator for streaming tests. */
final case class RateSource(rowsPerSecond: Int) extends Source {
  def batch(spark: SparkSession): DataFrame =
    throw new UnsupportedOperationException("rate source is streaming-only")
  def stream(spark: SparkSession): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()
      .select(col("value").cast("string").as("key"),
        col("value").cast("string").cast("binary").as("value"),
        lit("rate").as("topic"),
        map(lit("ts"), col("timestamp").cast("string")).as("attributes"))
}

/** Fan-in union — the reference's MultiSource (x/multi/multisrc.go:18-81):
  * UNION ALL of N sources (no dedup), streaming-unioned when streaming. */
final case class MultiSource(sources: Seq[Source]) extends Source {
  require(sources.nonEmpty, "MultiSource needs at least one source")
  def batch(spark: SparkSession): DataFrame =
    sources.map(_.batch(spark)).reduce(_.unionByName(_))
  def stream(spark: SparkSession): DataFrame =
    sources.map(_.stream(spark)).reduce(_.unionByName(_))
}
