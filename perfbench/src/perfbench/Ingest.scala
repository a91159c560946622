package perfbench

import graft.core.{Message, Pipeline, Sink, Transforms}
import graft.sinks.Sinks
import graft.sources.{PolledSource, Poller}
import graft.streaming.{Monitoring, StreamingOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** event_ingest: an open-loop stream of small JSON events through
  * Poller → PolledSource → JSON decode + filter → watermark dedup →
  * IdempotentSink over a parquet sink, checkpointed on local disk.
  *
  * A run: one drain of a `Backlog`-message backlog and `WarmSecs` of open
  * loop at the offered rate, `Rate` msgs/s unless the run sets another
  * (set-up); then, as the loop goes on, a `seconds`-long window whose
  * messages are timed from their scheduled creation to their
  * `Poller.ack`; then `Drains` drains, each timed until its last message
  * is in the sink. The open loop keeps producing past
  * the window until every window message is acked, because
  * `PolledSource` acks a batch only when the next batch is built. */
object Ingest {
  val Rate = 8000
  val PollMax = 50000
  val Backlog = 100000
  /** Longer than the watermark, so the set-up drain's dedup state is
    * evicted before the window opens. */
  val WarmSecs = 6
  val Drains = 5
  val Watermark = "5 seconds"
  val AckTimeoutMs = 30000.0

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("kind", StringType), StructField("user", IntegerType),
    StructField("value", DoubleType)))

  /** The benchmark's Poller: a generator writes messages into a queue
    * on schedule; `poll` hands them out in order. Keeps the ledger of
    * every message (due time, event id, re-delivery) and of every poll,
    * write and ack. Stream position k is source offset k + 1. */
  final class Feed(seed: Long) extends Poller {
    private val stream = new Gen.EventStream(seed)
    private val queue = new ConcurrentLinkedQueue[Message]()
    val dueMs = mutable.ArrayBuffer.empty[Double]
    val eventIds = mutable.ArrayBuffer.empty[Long]
    val kept = mutable.ArrayBuffer.empty[Boolean]
    val redelivered = mutable.ArrayBuffer.empty[Boolean]
    /** (end offset, start ms, end ms) of every non-empty poll. */
    val polls = new ConcurrentLinkedQueue[(Long, Double, Double)]()
    /** (acked-through offset, ms) of every ack. */
    val acks = new ConcurrentLinkedQueue[(Long, Double)]()
    @volatile var polledEnd = 0L
    @volatile private var acked = 0L

    def generated: Long = synchronized(dueMs.size.toLong)
    def ackedThrough: Long = acked

    /** Append `n` messages; message i is due at `due(i)`. */
    def emit(n: Int, due: Int => Double): Unit = synchronized {
      var i = 0
      while (i < n) {
        val d = due(i)
        val (e, ts, dup) = stream.next(d.toLong)
        add(e, ts, d, dup)
        i += 1
      }
    }

    /** Append the pending re-deliveries, due at `d`. */
    def flush(d: Double): Unit = synchronized {
      stream.flush().foreach { case (e, ts) => add(e, ts, d, dup = true) }
    }

    private def add(e: Gen.Event, ts: Long, d: Double, dup: Boolean): Unit = {
      dueMs += d; eventIds += e.eventId; kept += (e.kind != "heartbeat")
      redelivered += dup
      queue.add(Message(e.eventId.toString,
        Gen.eventJson(e, ts).getBytes("UTF-8"), "events", Map.empty))
    }

    override def poll(max: Int): Seq[Message] = {
      val t0 = Clock.ms()
      val out = new mutable.ArrayBuffer[Message](math.min(max, 4096))
      var m = queue.poll()
      while (m != null) {
        out += m
        m = if (out.size < max) queue.poll() else null
      }
      if (out.nonEmpty) {
        polledEnd += out.size
        polls.add((polledEnd, t0, Clock.ms()))
      }
      out.toSeq
    }

    override def ack(n: Long): Unit = {
      acked += n
      acks.add((acked, Clock.ms()))
    }
  }

  /** Open-loop generator thread: message k of the loop is due at
    * start + k / rate, however slowly the pipeline drains. */
  final class OpenLoop(feed: Feed, rate: Int) extends Thread("perfbench-open-loop") {
    setDaemon(true)
    @volatile private var running = true
    val lateMs = mutable.ArrayBuffer.empty[Double]
    private var t0 = 0.0
    override def run(): Unit = {
      t0 = Clock.ms()
      var done = 0L
      while (running) {
        val now = Clock.ms()
        val target = ((now - t0) * rate / 1000.0).toLong
        if (target > done) {
          val base = done
          lateMs += now - (t0 + base * 1000.0 / rate)
          feed.emit((target - done).toInt, i => t0 + (base + i) * 1000.0 / rate)
          done = target
        }
        Thread.sleep(1)
      }
    }
    def halt(): Unit = { running = false; join(); feed.flush(Clock.ms()) }
  }

  /** Child sink that times each batch write and records the source
    * offset the batch ends at (the feed's last poll, made on the same
    * stream thread just before the batch ran). */
  final class TimedSink(child: Sink, feed: Feed) extends Sink {
    /** (end offset, batch id, start ms, end ms). */
    val writes = new ConcurrentLinkedQueue[(Long, Long, Double, Double)]()
    def writeBatch(df: DataFrame): Unit = {
      val end = feed.polledEnd
      val batch = Option(df.sparkSession.sparkContext
        .getLocalProperty("streaming.sql.batchId")).map(_.toLong).getOrElse(-1L)
      val t0 = Clock.ms()
      child.writeBatch(df)
      writes.add((end, batch, t0, Clock.ms()))
    }
    def writeStream(df: DataFrame, trigger: Option[Trigger],
        checkpoint: Option[String]): StreamingQuery =
      child.writeStream(df, trigger, checkpoint)
  }

  /** First time at which `through` offsets were in the sink / acked. */
  private def firstReaching(xs: Iterable[(Long, Double)], through: Long): Option[Double] =
    xs.find(_._1 >= through).map(_._2)

  private def waitUntil(timeoutMs: Double, q: StreamingQuery)(cond: => Boolean): Boolean = {
    val t0 = Clock.ms()
    while (!cond && Clock.ms() - t0 < timeoutMs) {
      q.exception.foreach(e => throw e)
      Thread.sleep(2)
    }
    cond
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val feed = new Feed(ctx.seed)
    val out = new java.io.File(ctx.work, "ingest-sink").getPath
    val timed = new TimedSink(Sinks.ParquetSink(out), feed)
    val sink = Sinks.IdempotentSink(timed, new java.io.File(ctx.work, "ingest-manifest").getPath)
    val src = PolledSource(feed, batchSize = PollMax)
    val progress = new ProgressLog
    val spanTracer = new Monitoring.SpanTracer(keep = 100000)
    val metrics = new Monitoring.MetricsListener
    var pipeline = Pipeline.from(src)
      .via(Transforms.deserializeJson(schema))
      .via(_.filter(col("kind") =!= "heartbeat"))
      .via(df => StreamingOps.dedupWithinWatermark(
        df.withColumn("event_time", timestamp_millis(col("ts"))),
        "event_time", Watermark, Seq("event_id")))
      .via(_.select("event_id", "ts", "kind", "user", "value"))
      .triggerEvery(0)
      .withCheckpoint(new java.io.File(ctx.work, "ingest-checkpoint").getPath)
    if (ctx.trace) {
      spark.streams.addListener(progress)
      pipeline = pipeline.withTracing(spanTracer).withMetrics(metrics)
    }
    val q = pipeline.start(spark, sink)
    var failed = 0L
    var attempted = 0L
    val writeEnds = () => timed.writes.asScala.map(w => (w._1, w._4))

    def drain(n: Int): Option[Double] = {
      val t0 = Clock.ms()
      val start = feed.generated
      feed.emit(n, _ => t0)
      feed.flush(t0)
      val end = feed.generated
      attempted += end - start
      if (waitUntil(60000, q)(writeEnds().exists(_._1 >= end)))
        firstReaching(writeEnds(), end).map(t1 => (end - start) / ((t1 - t0) / 1000.0))
      else { failed += end - start; None }
    }

    try {
      // set-up: warm every path in-process before anything is timed
      ctx.log("query started")
      drain(Backlog)
      val loop = new OpenLoop(feed, ctx.rate)
      loop.start()
      Thread.sleep(WarmSecs * 1000L)
      attempted = 0
      failed = 0
      ctx.setupDone()
      val p0 = feed.generated
      val winStart = Clock.ms()
      Thread.sleep(ctx.seconds * 1000L)
      val p1 = feed.generated
      val winEnd = Clock.ms()
      waitUntil(AckTimeoutMs, q)(feed.ackedThrough >= p1)
      loop.halt()
      ctx.log("window acked")
      // the drains start from an idle query
      val beforeDrains = feed.generated
      waitUntil(AckTimeoutMs, q)(writeEnds().exists(_._1 >= beforeDrains))
      val rates = (1 to Drains).flatMap(_ => drain(Backlog))
      ctx.log("drains done")
      // while the query and its dedup state are still up
      val liveMb = Stats.liveMb()
      val acks = feed.acks.asScala.toVector
      val lat = mutable.ArrayBuffer.empty[Double]
      val batchOf = mutable.ArrayBuffer.empty[Long]
      var ai = 0
      var pos = p0
      while (pos < p1) {
        while (ai < acks.size && acks(ai)._1 < pos + 1) ai += 1
        if (ai < acks.size) {
          lat += acks(ai)._2 - feed.dueMs(pos.toInt)
          batchOf += acks(ai)._1
        } else failed += 1
        pos += 1
      }
      attempted += p1 - p0
      // every message is written before the query stops, and the last
      // batch's trigger finishes (offset commit, progress report)
      val generatedAll = feed.generated
      waitUntil(AckTimeoutMs, q)(writeEnds().exists(_._1 >= generatedAll))
      val lastBatch = timed.writes.asScala.map(_._2).max
      waitUntil(10000, q)(Option(q.lastProgress).exists(_.batchId >= lastBatch))
      q.stop()
      q.awaitTermination()
      ctx.log("query stopped")

      val ackP50 = Stats.median(lat.toSeq)
      val (tailPct, tailMs) = tail(lat.toSeq, batchOf.toSeq)
      val generated = feed.generated.toInt
      val expected = (0 until generated).iterator
        .filter(i => feed.kept(i)).map(i => feed.eventIds(i)).toSet
      val got = spark.read.parquet(out).select("event_id").collect().map(_.getLong(0))
      val checks = mutable.ArrayBuffer(Checks.sinkRows(expected, got))

      val layers = mutable.LinkedHashMap.empty[String, Double]
      var selfTime = Map.empty[String, Double]
      if (ctx.trace) {
        org.apache.spark.perfbench.BusDrain(spark.sparkContext)
        val progressAll = progress.all.filter(_.id == q.id)
        def endOf(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Long =
          p.sources.headOption.map(_.endOffset).filter(_ != null)
            .map(_.trim.toLong).getOrElse(-1L)
        val win = progressAll.filter(p => p.numInputRows > 0 && endOf(p) > p0 && endOf(p) <= p1)
        def d(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
          Option(p.durationMs.get(k)).map(_.doubleValue()).getOrElse(0.0)
        def med(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double) =
          Stats.median(win.map(f))
        def st(p: org.apache.spark.sql.streaming.StreamingQueryProgress) =
          p.stateOperators.headOption
        val winEnds = win.map(endOf).toSet
        val writes = timed.writes.asScala.toVector.filter(w => winEnds.contains(w._1))
        val ackLag = writes.flatMap(w => firstReaching(acks, w._1).map(_ - w._4))
        val winPolls = feed.polls.asScala.toVector.filter(p => winEnds.contains(p._1))
        layers ++= Seq(
          "sources.rows_per_batch" -> med(_.numInputRows.toDouble),
          "sources.get_batch_ms" -> med(d(_, "getBatch")),
          "sources.latest_offset_ms" -> med(d(_, "latestOffset")),
          "sources.ack_lag_ms" -> Stats.median(ackLag),
          "sources.poll_ms" -> Stats.median(winPolls.map(p => p._3 - p._2)),
          "core.batches" -> win.size.toDouble,
          "core.query_planning_ms" -> med(d(_, "queryPlanning")),
          "core.wal_commit_ms" -> med(d(_, "walCommit")),
          "core.commit_offsets_ms" -> med(d(_, "commitOffsets")),
          "core.trigger_ms" -> med(d(_, "triggerExecution")),
          "streaming.add_batch_ms" -> med(d(_, "addBatch")),
          "streaming.state_update_ms" -> med(st(_).map(_.allUpdatesTimeMs.toDouble).getOrElse(0.0)),
          "streaming.state_commit_ms" -> med(st(_).map(_.commitTimeMs.toDouble).getOrElse(0.0)),
          "streaming.state_rows" -> med(st(_).map(_.numRowsTotal.toDouble).getOrElse(0.0)),
          "streaming.state_memory_bytes" -> med(st(_).map(_.memoryUsedBytes.toDouble).getOrElse(0.0)),
          "streaming.dropped_duplicates" -> progressAll.flatMap(st(_)).map(s =>
            Option(s.customMetrics.get("numDroppedDuplicateRows")).map(_.doubleValue())
              .getOrElse(0.0)).sum,
          "sinks.write_ms" -> Stats.median(writes.map(w => w._4 - w._3)))
        val (files, bytes) = parquetFiles(new java.io.File(out))
        val nWrites = timed.writes.size.toDouble
        layers ++= Seq("sinks.files_written" -> files / nWrites,
          "sinks.bytes_written" -> bytes / nWrites)

        // useful-work count: every planted re-delivery of a kept event
        // is dropped by the dedup operator, and nothing else is
        val planted = (0 until generated).count(i => feed.redelivered(i) && feed.kept(i))
        val dropped = layers("streaming.dropped_duplicates").toLong
        checks += Checks.Result("dropped_duplicates", math.abs(planted - dropped),
          s"dedup dropped $dropped, planted re-deliveries $planted")
        checks += crossCheck(q.id, progressAll, win, writes, winPolls, spanTracer, metrics)

        // spans: one op per micro-batch; Spark phases laid out in the
        // order the engine runs them, benchmark-side spans exact
        progressAll.foreach { p =>
          val op = s"batch#${p.batchId}"
          val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
          val root = ctx.tracer.add(op, 0, "core.trigger", t0, t0 + d(p, "triggerExecution"),
            Map("rows" -> p.numInputRows.toString))
          var t = t0
          Seq("latestOffset" -> "sources.latest_offset", "walCommit" -> "core.wal_commit",
            "getBatch" -> "sources.get_batch", "queryPlanning" -> "core.query_planning",
            "addBatch" -> "streaming.add_batch", "commitOffsets" -> "core.commit_offsets")
            .foreach { case (k, name) =>
              val len = d(p, k)
              ctx.tracer.add(op, root, name, t, t + len)
              t += len
            }
        }
        feed.polls.asScala.foreach { case (end, a, b) =>
          ctx.tracer.add(s"offset#$end", 0, "sources.poll", a, b)
        }
        timed.writes.asScala.foreach { case (end, batch, a, b) =>
          ctx.tracer.add(s"batch#$batch", 0, "sinks.write", a, b,
            Map("end_offset" -> end.toString))
        }
        acks.foreach { case (end, t) =>
          ctx.tracer.add(s"offset#$end", 0, "sources.ack", t, t)
        }
        // self time of the blocking layers over the window's batches. The
        // sink write is the one Spark job that runs the decode, the dedup
        // state update and commit and the file write, so streaming and
        // sinks share addBatch; the Spark driver's work around it is core's.
        selfTime = Map(
          "sources" -> win.map(p => d(p, "latestOffset") + d(p, "getBatch")).sum,
          "core" -> win.map(p => d(p, "triggerExecution") - d(p, "latestOffset") -
            d(p, "getBatch") - d(p, "addBatch")).sum,
          "streaming_and_sinks" -> win.map(d(_, "addBatch")).sum,
          "window_triggers" -> win.map(d(_, "triggerExecution")).sum)
      }
      Outcome(
        attempted = attempted, failed = failed, checks = checks.toSeq,
        throughput = Stats.median(rates), liveMb = liveMb,
        layers = layers.toMap,
        selfTimeMs = selfTime,
        detail = Map(
          "ingest_msgs_per_s" -> Stats.median(rates),
          "ingest_ack_p50_ms" -> ackP50,
          "ingest_ack_tail_ms" -> tailMs,
          "ingest_ack_tail_pct" -> tailPct,
          "ingest_window_msgs" -> (p1 - p0).toDouble,
          "ingest_offered_msgs_per_s" -> ctx.rate.toDouble,
          "ingest_window_s" -> (winEnd - winStart) / 1000.0,
          "ingest_drains" -> rates.size.toDouble,
          "generator_late_p99_ms" -> Stats.pct(loop.lateMs.toSeq, 99)))
    } finally {
      if (q.isActive) { q.stop(); q.awaitTermination() }
      if (ctx.trace) spark.streams.removeListener(progress)
      src.close()
    }
  }

  /** The highest of a few percentiles with at least ten distinct
    * micro-batches among the messages beyond it. */
  def tail(lat: Seq[Double], batch: Seq[Long]): (Double, Double) = {
    val byLat = lat.zip(batch).sortBy(_._1)
    val n = byLat.size
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find { p =>
      val cut = math.ceil(p / 100.0 * n).toInt
      byLat.drop(cut).map(_._2).distinct.size >= 10
    }.map(p => (p, Stats.pct(lat, p))).getOrElse((50.0, Stats.median(lat)))
  }

  private def parquetFiles(dir: java.io.File): (Double, Double) = {
    val fs = Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    (fs.length.toDouble, fs.map(_.length.toDouble).sum)
  }

  /** The program's own span tree and metrics listener against the
    * benchmark's: same batch and row counts, and each benchmark-side
    * sink write (poll) fits inside the program's handle/send (recv)
    * span of the same batch. */
  private def crossCheck(id: java.util.UUID,
      all: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      win: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      writes: Seq[(Long, Long, Double, Double)], polls: Seq[(Long, Double, Double)],
      tracer: Monitoring.SpanTracer, metrics: Monitoring.MetricsListener): Checks.Result = {
    var bad = 0L
    metrics.snapshot.get(id) match {
      case Some(s) =>
        if (s.batches != all.size || s.inputRows != all.map(_.numInputRows).sum) bad += 1
      case None => bad += 1
    }
    val spans = tracer.spans.groupBy(s => (s.batchId, s.name))
    def span(b: Long, n: String) = spans.get((b, n)).flatMap(_.headOption)
    val ends = win.map(p => p.sources.head.endOffset.trim.toLong -> p.batchId).toMap
    writes.foreach { case (_, b, t0, t1) =>
      if (span(b, "graft.processor.handle.send").forall(_.durationMs + 2 < t1 - t0)) bad += 1
    }
    polls.foreach { case (end, t0, t1) =>
      ends.get(end).foreach { b =>
        if (span(b, "graft.processor.src.recv").forall(_.durationMs + 2 < t1 - t0)) bad += 1
      }
    }
    Checks.Result("program_spans", bad,
      s"${all.size} batches; ${writes.size} writes and ${polls.size} polls inside the program's spans")
  }
}
