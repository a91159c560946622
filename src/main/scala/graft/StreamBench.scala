package graft

import graft.core.{Message, Pipeline, Sink}
import graft.sources.MemoryMessageSource
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import java.util.concurrent.atomic.AtomicLong

/** Streaming-throughput twin of the reference's only benchmark,
  * `BenchmarkMem` (/root/reference/test/stream_test.go:29-41 via
  * BuildBench, suite_test.go:106-155): N messages — 25 distinct 20-byte
  * payloads, prepared UNTIMED like the Go bench's `want` setup — pushed
  * through memory source → identity pipeline → counting memory sink;
  * the timed region per iteration is Send+Recv+ack end to end (source
  * ingestion, micro-batch planning, sink count, offset commit), matching
  * the Go harness's `runner.Run` timing.
  *
  * THE REFERENCE'S PUBLISHED NUMBER (its only one):
  * /root/reference/test/bench.txt:1-14 checks in ten BenchmarkMem runs at
  * ~442–483 ms per 1,000,000 messages ≈ **2.1M msgs/s** on darwin/arm64.
  * Iterations there are steady-state (Go bench reruns until stable), so
  * the comparable figure here is the best warm rep, printed alongside the
  * reference number. Caveats printed with the result: different hardware,
  * and a structurally heavier twin — BenchmarkMem is a raw UNBUFFERED Go
  * channel handoff (`memory.NewMemSource` ← chan → `NewMemDestination`,
  * no processor, no durability), while this pipeline carries catalyst row
  * encoding plus the micro-batch engine's offset/commit logs. Measured on
  * this container (r11): cold single-shot 0.27M msgs/s → steady-state
  * ~0.8M msgs/s after (a) Go-style warm iterations with untimed payload
  * setup and (b) 50k-row ingestion chunks — each `addData` block is one
  * partition of the batch scan, so 20 blocks parallelize the count across
  * the local cores where one 1M-row block ran it single-task (measured
  * sweep: 1M-chunk 0.45M/s, 250k 0.65M/s, 50k 0.83M/s, 6.25k 0.68M/s).
  * r12 added the steady-state phase below (1.0–1.09M msgs/s, ~2× gap).
  * r13 measured the remaining swing candidates as engine-floor
  * negatives — numPartitions re-split, async progress tracking,
  * parallel feeders (see inline notes and SURVEY §6): the residual gap
  * is the per-micro-batch replan + synchronous offset-log cycle
  * (~45 ms × ~20 batches per 1M rows), the architecture cost of a
  * micro-batch engine against a raw unbuffered channel.
  *
  * Usage: `sbt "runMain graft.StreamBench [nMessages] [reps]"` (default
  * 1M × 3). Prints one JSON line:
  * {"metric":"stream_throughput","value":<best msgs/s>,...}.
  */
object StreamBench {
  // (r13 negative result: asyncProgressTrackingEnabled — SPARK-39591,
  // offset-log writes off the critical path — is rejected by the engine
  // for ForeachBatchSink, so the per-batch log write stays synchronous.)
  private final class CountingSink extends Sink {
    val rows = new AtomicLong
    def writeBatch(df: DataFrame): Unit = { rows.addAndGet(df.count()); () }
    def writeStream(df: DataFrame, trigger: Option[Trigger],
        checkpoint: Option[String]): StreamingQuery = {
      val w = df.writeStream.foreachBatch { (b: DataFrame, _: Long) =>
        writeBatch(b)
      }
      val t = trigger.fold(w)(w.trigger)
      checkpoint.fold(t)(c => t.option("checkpointLocation", c)).start()
    }
  }

  /** ≈ bench.txt mean: 470 ms / 1M msgs on darwin/arm64. */
  val ReferenceMsgsPerSec: Double = 1e6 / 0.470

  /** RAM-backed checkpoint dir for a steady-state phase (offset/commit
    * logs are two fsynced files per micro-batch; the Go twin has no
    * durability at all, so this is still conservative), deleted after
    * `body` — a leaked tmpfs file is exactly the background pressure
    * LoadGate exists to keep out of bench records. None when /dev/shm is
    * unavailable (the phase then runs checkpoint-free). */
  private def withShmCheckpoint[A](prefix: String)(body: Option[String] => A): A = {
    val ckpt = Option(new java.io.File("/dev/shm"))
      .filter(f => f.isDirectory && f.canWrite)
      .map(_ => s"/dev/shm/$prefix-${System.nanoTime()}")
    try body(ckpt)
    finally ckpt.foreach { dir =>
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(1000000)
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Sessions.builder(s"local[$cpus]", cpus.toInt)
      .appName("graft-streambench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // untimed payload prep — the Go bench's rng `want` setup is outside
    // its timer too (b.StopTimer around BuildBench)
    val payloads = Array.tabulate(25)(i =>
      (f"payload-$i%02d-".padTo(20, 'x')).getBytes("UTF-8"))
    // 50k-row ingestion chunks: each addData block is one partition of
    // the micro-batch scan — measured optimum on local[8] (see Scaladoc)
    val chunk = sys.env.getOrElse("SPARK_GRAFT_STREAM_CHUNK", "50000").toInt
    val secs = (1 to reps).map { rep =>
      val src = new MemoryMessageSource(spark)
      val sink = new CountingSink
      val t0 = System.nanoTime()
      var added = 0
      while (added < n) {
        val sz = math.min(chunk, n - added)
        val base = added
        src.add((0 until sz).map { i =>
          val j = base + i
          Message(key = (j % 25).toString, value = payloads(j % 25),
            topic = "bench", attributes = Map.empty)
        })
        added += sz
      }
      val tAdd = (System.nanoTime() - t0) / 1e9
      val q = Pipeline.from(src).availableNow.start(spark, sink)
      q.awaitTermination()
      val s = (System.nanoTime() - t0) / 1e9
      require(sink.rows.get() == n, s"saw ${sink.rows.get()} of $n messages")
      System.err.println(f"[streambench] rep $rep/$reps: $s%.3f s " +
        f"(${n / s}%.0f msgs/s; ingest-encode $tAdd%.3f s, run ${s - tAdd}%.3f s)")
      s
    }
    // STEADY-STATE phase (r12): the Go bench times iterations against an
    // ALREADY-RUNNING pipeline (b.N reruns of runner.Run after warmup),
    // while each rep above pays a full StreamingQuery startup — plan
    // analysis, checkpoint/offset-log setup, listener wiring (~0.7 s of
    // the ~1.1 s warm rep). Here ONE query runs ProcessingTime(0)
    // micro-batches and each rep just feeds n rows and waits for the
    // sink count — the compiled plan and the offset-log machinery are
    // reused across batches, which is the comparable figure.
    val steadySecs = {
      // r13 negative result, kept for the record: MemoryStream's
      // numPartitions knob (re-split all accumulated rows across k scan
      // partitions) measured 0.90M → 0.40M msgs/s at every chunk size
      // tried — at these micro-batch sizes the re-split only adds task-
      // launch overhead (32 tasks of ~1.5k rows) and a driver-side
      // re-slice; the one-block-one-partition default with chunked
      // pipelined feeding remains the fastest shape.
      val src = new MemoryMessageSource(spark)
      val sink = new CountingSink
      withShmCheckpoint("graft-streambench") { ckpt =>
      val p0 = Pipeline.from(src).triggerEvery(0)
      val q = ckpt.fold(p0)(p0.withCheckpoint).start(spark, sink)
      try {
        (1 to reps).map { rep =>
          val t0 = System.nanoTime()
          // serial chunked feed. r13 negative result: a 4-thread feeder
          // pool corrupts rows (SparkIllegalArgumentException, invalid
          // UnsafeRow) — MemoryStream's encoder serializer is shared and
          // NOT thread-safe, and there is no public pre-encoded-row
          // ingestion API, so the ~0.2 s/1M driver-side Catalyst encode
          // is structurally single-threaded.
          var added = 0
          while (added < n) {
            val sz = math.min(chunk, n - added)
            val base = added
            src.add((0 until sz).map { i =>
              val j = base + i
              Message(key = (j % 25).toString, value = payloads(j % 25),
                topic = "bench", attributes = Map.empty)
            })
            added += sz
          }
          val want = rep.toLong * n
          while (sink.rows.get() < want) {
            // fail loudly instead of spinning forever if a micro-batch
            // died (the wait would otherwise hang the official bench)
            q.exception.foreach(e => throw e)
            require(q.isActive, s"query stopped at ${sink.rows.get()}/$want rows")
            Thread.sleep(1)
          }
          val s = (System.nanoTime() - t0) / 1e9
          System.err.println(
            f"[streambench] steady rep $rep/$reps: $s%.3f s (${n / s}%.0f msgs/s)")
          s
        }
      } finally {
        q.stop(); q.awaitTermination()
      }
      }
    }
    // POLLED-SOURCE steady-state phase (r14, verdict item 6): the r13
    // negatives established MemoryStream.addData's driver-side
    // single-threaded Catalyst encode as the ingestion bottleneck; the
    // engine's own DataSource V2 [[graft.sources.PolledSource]] skips
    // the encoder entirely — the driver buffers Message objects (poll at
    // the trigger admission point) and packs each batch into one byte
    // block per partition off the stream thread, and row materialization
    // (UTF8String/InternalRow) happens in the PARTITION READERS on
    // executor cores. Same counting sink, same /dev/shm checkpoint,
    // one long-lived query.
    val polledSecs = {
      val pollChunk =
        sys.env.getOrElse("SPARK_GRAFT_STREAM_POLL_CHUNK", "100000").toInt
      final class BenchPoller extends graft.sources.Poller {
        @volatile var target = 0L // raised by n per rep
        private var emitted = 0L
        def poll(max: Int): Seq[Message] = synchronized {
          val k = math.min(max.toLong, target - emitted).toInt
          if (k <= 0) Nil
          else {
            val out = new Array[Message](k)
            var i = 0
            while (i < k) {
              val j = emitted + i
              out(i) = Message(key = (j % 25).toString,
                value = payloads((j % 25).toInt), topic = "bench",
                attributes = Map.empty)
              i += 1
            }
            emitted += k
            scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
          }
        }
      }
      val poller = new BenchPoller
      val src = graft.sources.PolledSource(poller, batchSize = pollChunk)
      val sink = new CountingSink
      withShmCheckpoint("graft-streambench-poll") { ckpt =>
      val p0 = Pipeline.from(src).triggerEvery(0)
      val q = ckpt.fold(p0)(p0.withCheckpoint).start(spark, sink)
      try {
        (1 to reps).map { rep =>
          val t0 = System.nanoTime()
          poller.target += n
          val want = rep.toLong * n
          while (sink.rows.get() < want) {
            q.exception.foreach(e => throw e)
            require(q.isActive, s"query stopped at ${sink.rows.get()}/$want rows")
            Thread.sleep(1)
          }
          val s = (System.nanoTime() - t0) / 1e9
          System.err.println(
            f"[streambench] polled rep $rep/$reps: $s%.3f s (${n / s}%.0f msgs/s)")
          s
        }
      } finally {
        q.stop(); q.awaitTermination()
        src.close()
      }
      }
    }
    val polledBest = polledSecs.min
    val polledTput = n / polledBest
    val steadyBest = steadySecs.min
    val steadyTput = n / steadyBest
    val best = secs.min
    val tput = n / best
    System.err.println(
      f"[streambench] best fresh-query ${tput}%.0f, steady-state $steadyTput%.0f, " +
        f"polled-source $polledTput%.0f msgs/s vs reference BenchmarkMem " +
        f"$ReferenceMsgsPerSec%.0f msgs/s " +
        "(bench.txt, darwin/arm64 — different hardware, and a raw unbuffered " +
        "channel handoff vs this micro-batch pipeline): " +
        f"${ReferenceMsgsPerSec / math.max(steadyTput, polledTput)}%.1fx gap best")
    // "value" is PINNED to the steady-state phase — the SURVEY-declared
    // structural-floor number — so cross-round comparisons always compare
    // the same phase (r14 ADVICE: a best-of-phases value silently changes
    // meaning if another phase ever overtakes steady-state). The polled
    // and fresh-query phases report only in their own fields.
    println(f"""{"metric":"stream_throughput","value":$steadyTput%.0f,"unit":"msgs/sec","phase":"steady_state","n":$n,"reps":$reps,"steady_best_s":$steadyBest%.3f,"steady_all_s":${steadySecs.map(s => f"$s%.3f").mkString("[", ",", "]")},"polled_msgs_per_sec":$polledTput%.0f,"polled_all_s":${polledSecs.map(s => f"$s%.3f").mkString("[", ",", "]")},"fresh_query_msgs_per_sec":$tput%.0f,"fresh_all_s":${secs.map(s => f"$s%.3f").mkString("[", ",", "]")},"ref_msgs_per_sec":${ReferenceMsgsPerSec}%.0f,"ref_source":"/root/reference/test/bench.txt:1-14 (darwin/arm64)"}""")
    spark.stop()
  }
}
