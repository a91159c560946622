package graft

import graft.core.{Message, Pipeline}
import graft.sinks.Sinks
import graft.sources.MemoryMessageSource
import graft.streaming.Monitoring

import java.util.concurrent.atomic.AtomicInteger

/** Pins the watchdog + metrics semantics the reference test-covers
  * exhaustively (x/batcher/batcher_test.go:683-844):
  *   - a batch stuck longer than the timeout trips the stall callback
  *     exactly once per episode (single errDeadlock signal);
  *   - an idle stream (triggers finding no data) resets the timer and
  *     never trips (batcher.go:316-328 idle-vs-stuck distinction);
  *   - the watchdog re-arms after the next completed batch;
  *   - MetricsListener's state-store size is a gauge (last observed
  *     value), never a running sum of per-batch values.
  * Wired through the Pipeline options (withWatchdog / withMetrics), so
  * the observability surface is reachable API, not dead code.
  */
class MonitoringSpec extends SparkSpec {

  private def eventually[T](timeoutMs: Long = 15000)(f: => T): T = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last: Throwable = null
    while (System.currentTimeMillis() < deadline) {
      try return f
      catch { case t: Throwable => last = t; Thread.sleep(100) }
    }
    throw last
  }

  test("watchdog: idle never trips; blocked batch trips once, re-arms after progress") {
    // idle events must outpace the watchdog timeout (default interval is
    // 10 s — far longer than any test timeout)
    val prevIdle = spark.conf.getOption("spark.sql.streaming.noDataProgressEventInterval")
    spark.conf.set("spark.sql.streaming.noDataProgressEventInterval", "250")
    val trips = new AtomicInteger(0)
    val metrics = new Monitoring.MetricsListener
    val src = new MemoryMessageSource(spark)
    // sink blocks only on designated messages, far past the timeout
    val sink = Sinks.RetryingForeachSink({ (df, _) =>
      val blocking = df.filter(org.apache.spark.sql.functions.col("key") === "block").count()
      if (blocking > 0) Thread.sleep(2500)
    })
    val p = Pipeline.from(src)
      .withMetrics(metrics)
      .withWatchdog(timeoutMs = 800)(_ => trips.incrementAndGet())
    val q = p.start(spark, sink)
    try {
      // warm-up: a fast batch completes (first-batch planning/codegen can
      // legitimately exceed the timeout, so baseline the trip count after
      // the progress event has re-armed the watchdog)
      src.add(Seq(Message.ofString("fast", "v", "t")))
      q.processAllAvailable()
      Thread.sleep(300) // let the progress event reach the listener bus
      val base = trips.get()

      // idle: no data for ~3× the timeout; idle events keep resetting, so
      // the re-armed watchdog must NOT trip (batcher.go:316-328)
      Thread.sleep(2400)
      assert(trips.get() == base, s"idle stream tripped the watchdog ${trips.get() - base}×")

      // stall episode 1: the batch blocks 2.5 s against an 800 ms timeout
      src.add(Seq(Message.ofString("block", "v", "t")))
      eventually() { assert(trips.get() == base + 1, s"expected 1 trip, got ${trips.get() - base}") }
      q.processAllAvailable() // batch finishes → progress event → re-arm
      assert(trips.get() == base + 1, s"tripped again within one episode: ${trips.get() - base}")

      // stall episode 2: re-armed watchdog trips again
      src.add(Seq(Message.ofString("block", "v", "t")))
      eventually() { assert(trips.get() == base + 2, s"expected 2 trips, got ${trips.get() - base}") }
      q.processAllAvailable()

      // the metrics side of the wiring saw the same query
      eventually() {
        val s = metrics.snapshot.values
        assert(s.exists(_.batches >= 3), s"metrics missed batches: $s")
        assert(s.exists(_.inputRows >= 3), s"metrics missed rows: $s")
      }
    } finally {
      q.stop()
      q.awaitTermination()
      p.watchdog.foreach(_.detach(spark))
      metrics.detach(spark)
      prevIdle.fold(spark.conf.unset("spark.sql.streaming.noDataProgressEventInterval"))(
        v => spark.conf.set("spark.sql.streaming.noDataProgressEventInterval", v))
    }
  }

  test("metrics: Dataset.observe user metrics surface in the snapshot") {
    import org.apache.spark.sql.functions._
    val metrics = new Monitoring.MetricsListener().attach(spark)
    val src = new MemoryMessageSource(spark)
    val observed = src.stream(spark)
      .observe("envelope_stats", count(lit(1)).as("rows"),
        sum(octet_length(col("value"))).as("bytes"))
    val q = observed.writeStream.format("memory")
      .queryName("mon_observe_out").start()
    try {
      src.add(Seq(Message.ofString("a", "12345", "t"),
        Message.ofString("b", "123", "t")))
      q.processAllAvailable()
      eventually() {
        val s = metrics.snapshot.collectFirst {
          case (_, st) if st.name == "mon_observe_out" => st
        }.getOrElse(fail("query not seen"))
        val m = s.observed.getOrElse("envelope_stats",
          fail(s"observation missing: ${s.observed}"))
        assert(m("rows") == "2" && m("bytes") == "8", s"unexpected metrics: $m")
      }
    } finally {
      q.stop()
      q.awaitTermination()
      metrics.detach(spark)
    }
  }

  test("metrics: stateRows is a gauge (last value), not a running sum") {
    val metrics = new Monitoring.MetricsListener().attach(spark)
    val src = new MemoryMessageSource(spark)
    val agg = src.stream(spark).groupBy("key").count()
    val q = agg.writeStream.outputMode("update")
      .format("memory").queryName("mon_gauge_out").start()
    try {
      src.add(Seq(Message.ofString("a", "1", "t"), Message.ofString("b", "2", "t")))
      q.processAllAvailable() // state holds keys {a, b} → numRowsTotal = 2
      src.add(Seq(Message.ofString("a", "3", "t"), Message.ofString("c", "4", "t")))
      q.processAllAvailable() // state holds keys {a, b, c} → numRowsTotal = 3

      eventually() {
        val s = metrics.snapshot.collectFirst {
          case (_, st) if st.name == "mon_gauge_out" => st
        }.getOrElse(fail("query not seen by metrics listener"))
        assert(s.inputRows == 4, s"inputRows ${s.inputRows} != 4")
        // a running sum of the gauge would read 2 + 3 = 5
        assert(s.stateRows == 3, s"stateRows ${s.stateRows} != 3 (gauge, not sum)")
        assert(s.batches >= 2 && s.avgBatchMs >= 0.0)
      }
    } finally {
      q.stop()
      q.awaitTermination()
      metrics.detach(spark)
    }
  }

  test("tracer: each micro-batch emits the reference's span tree (full ⊃ recv/send/ack)") {
    val exported = new java.util.concurrent.ConcurrentLinkedQueue[Monitoring.Span]()
    val tracer = new Monitoring.SpanTracer(export = exported.add(_))
    val src = new graft.sources.MemoryMessageSource(spark)
    val q = Pipeline.from(src)
      .withTracing(tracer)
      .start(spark, Sinks.MemorySink("trace_out"))
    try {
      src.add(Seq(Message.ofString("k1", "v1", "t"), Message.ofString("k2", "v2", "t")))
      q.processAllAvailable()
      eventually() {
        val spans = tracer.spans
        val roots = spans.filter(_.name == "graft.processor.full")
        assert(roots.nonEmpty, s"no root spans: $spans")
        // every child links to its batch's root within the same trace
        // (processor.go:91-115 span tree, micro-batch as the hop)
        val children = spans.filter(_.parentId.isDefined)
        assert(children.nonEmpty, "no child phase spans emitted")
        children.foreach { c =>
          val root = spans.find(s => s.spanId == c.parentId.get)
            .getOrElse(fail(s"orphan child span: $c"))
          assert(root.traceId == c.traceId && root.batchId == c.batchId)
        }
        val names = children.map(_.name).toSet
        assert(names.contains("graft.processor.src.recv"), s"missing recv: $names")
        assert(names.contains("graft.processor.handle.send"), s"missing send: $names")
        // a root span carries the hop attributes, durations are sane
        val withRows = roots.filter(_.attrs.get("numInputRows").exists(_.toLong > 0))
        assert(withRows.nonEmpty, "no root span saw the input rows")
        assert(spans.forall(_.durationMs >= 0))
        // exporter saw exactly the buffered spans
        assert(exported.size() == spans.size)
      }
    } finally {
      q.stop(); q.awaitTermination(); tracer.detach(spark)
    }
  }
}
