package graft

import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** Event-time streaming semantics: watermark dedup (at-least-once input →
  * effectively-once output), session windows, and per-key running state.
  * Deterministic replay tests, not oracle-diffed (SURVEY §5).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("dropDuplicatesWithinWatermark: redelivered keys collapse") {
    val ms = new MemoryStream[(String, Timestamp)](10, spark, None)
    val df = ms.toDF().toDF("k", "ts")
    val out = StreamingOps.dedupWithinWatermark(df, "ts", "10 minutes", Seq("k"))
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    ms.addData(Seq("a" -> ts(0), "b" -> ts(1), "a" -> ts(2))) // a duplicated in-batch
    q.processAllAvailable()
    ms.addData(Seq("a" -> ts(3), "c" -> ts(4))) // a redelivered across batches
    q.processAllAvailable()
    q.stop(); q.awaitTermination()
    val keys = spark.table("dedup_out").select("k").as[String].collect().sorted
    assert(keys.toSeq == Seq("a", "b", "c"))
  }

  test("rateLimitPerKey: burst capped at capacity, refill admits again") {
    val ms = new MemoryStream[(Long, Timestamp)](18, spark, None)
    val out = StreamingOps.rateLimitPerKey(
      ms.toDS(), capacity = 3, refillPerSec = 1.0)
    val q = out.toDF("k", "admitted", "dropped")
      .writeStream.format("memory").queryName("rate_out")
      .outputMode("update").start()
    // batch 1: 5 simultaneous events for key 1 → 3 admitted, 2 dropped;
    // key 2's single event sails through
    ms.addData((1 to 5).map(_ => 1L -> ts(0)) :+ (2L -> ts(0)))
    q.processAllAvailable()
    // batch 2: 2 minutes later → bucket refilled (capped at 3): another
    // burst of 4 → 3 admitted, 1 dropped — state carried across batches
    ms.addData((1 to 4).map(_ => 1L -> ts(2)))
    q.processAllAvailable()
    q.stop(); q.awaitTermination()
    val rows = spark.table("rate_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.contains((1L, 3L, 2L)) && rows.contains((2L, 1L, 0L)),
      s"batch-1 admissions: ${rows.toSeq}")
    assert(rows.contains((1L, 3L, 1L)), s"post-refill burst: ${rows.toSeq}")
  }

  test("streaming DDSketch state equals the batch-built sketch, quantiles too") {
    val ms = new MemoryStream[(String, Double)](17, spark, None)
    val df = ms.toDF().toDF("k", "v")
    val out = StreamingOps.ddsketchStream(df, "v", Seq("k"))
    val q = out.writeStream.format("memory").queryName("dd_stream")
      .outputMode("complete").start()
    val batch1 = (1 to 400).map(i => ("a", i * 0.5)) ++
      (1 to 100).map(i => ("b", i * 3.0))
    val batch2 = (1 to 300).map(i => ("a", i * 1.7)) ++
      Seq(("b", 0.0), ("b", -4.0)) // non-positive: dropped, not bucketed
    ms.addData(batch1); q.processAllAvailable()
    ms.addData(batch2); q.processAllAvailable()
    q.stop(); q.awaitTermination()
    val streamed = spark.table("dd_stream")
    val batch = graft.ops.Sketches.ddsketchBuild(
      (batch1 ++ batch2).toDF("k", "v"), "v", Seq("k"))
    // state == sketch, bucket for bucket → any quantile readout matches
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
    val sq = graft.ops.Sketches
      .ddsketchQuantiles(streamed, Seq("k"), Seq(0.5, 0.99)).collect()
    val bq = graft.ops.Sketches
      .ddsketchQuantiles(batch, Seq("k"), Seq(0.5, 0.99)).collect()
    assert(sq.toSet == bq.toSet)
  }

  test("session windows close after the gap; sentinel advances the watermark") {
    val ms = new MemoryStream[(String, Timestamp)](11, spark, None)
    val df = ms.toDF().toDF("k", "ts")
    val out = StreamingOps.sessionWindow(df, "ts", "5 minutes", Seq("k"),
      Seq(count(lit(1)).as("n")), watermark = "1 minute")
    val q = out.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    // user a: two sessions (minutes 0-2 and 20); user b: one session
    ms.addData(Seq("a" -> ts(0), "a" -> ts(2), "b" -> ts(1), "a" -> ts(20)))
    q.processAllAvailable()
    // sentinel far in the future pushes the watermark so sessions emit
    ms.addData(Seq("zz" -> Timestamp.valueOf("2024-01-02 00:00:00")))
    q.processAllAvailable()
    q.stop(); q.awaitTermination()
    val rows = spark.table("sess_out")
      .select("k", "n").as[(String, Long)].collect().sorted
    assert(rows.toSeq == Seq(("a", 1L), ("a", 2L), ("b", 1L)))
  }

  test("transformWithState: running stats survive micro-batch boundaries") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = new MemoryStream[(String, Double)](13, spark, None)
      val out = StreamingOps.runningStats(ms.toDS())
      val q = out.toDF("k", "n", "sum", "max").writeStream.format("memory")
        .queryName("tws_out").outputMode("update").start()
      ms.addData(Seq("x" -> 1.0, "x" -> 5.0, "y" -> 2.0))
      q.processAllAvailable()
      ms.addData(Seq("x" -> 3.0))
      q.processAllAvailable()
      q.stop(); q.awaitTermination()
      val last = spark.table("tws_out")
        .groupBy("k").agg(max("n").as("n"), max("sum").as("sum"), max("max").as("mx"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
      assert(last("x") == ((3L, 9.0, 5.0)))
      assert(last("y") == ((1L, 2.0, 2.0)))
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming corpus dedup: normalized-fingerprint dropDuplicates on a doc stream") {
    import graft.functions.TextFunctions.fingerprint
    val ms = new MemoryStream[(String, Timestamp)](14, spark, None)
    val df = ms.toDF().toDF("text", "ts")
      .withColumn("fp", fingerprint(col("text")))
    val out = StreamingOps.dedupWithinWatermark(df, "ts", "10 minutes", Seq("fp"))
    val q = out.writeStream.format("memory").queryName("docdedup_out")
      .outputMode("append").start()
    // same doc re-ingested with different whitespace/case = same fingerprint
    ms.addData(Seq("Hello  World" -> ts(0), "hello world" -> ts(1), "other doc" -> ts(2)))
    q.processAllAvailable()
    ms.addData(Seq("HELLO world" -> ts(3))) // redelivered across batches
    q.processAllAvailable()
    q.stop(); q.awaitTermination()
    val kept = spark.table("docdedup_out").select("fp").as[String].collect()
    assert(kept.length == 2, s"expected 2 unique docs, got ${kept.toSeq}")
  }

  test("dedupByFingerprint one-liner: case/whitespace variants collapse via Pipeline-shaped transform") {
    val ms = new MemoryStream[(String, Timestamp)](16, spark, None)
    val df = ms.toDF().toDF("text", "ts")
    // the named transform IS a DataFrame => DataFrame — Pipeline.via-ready
    val out = graft.core.Transforms.dedupByFingerprint(col("text"), "ts", "10 minutes")(df)
    val q = out.writeStream.format("memory").queryName("fpdedup_out")
      .outputMode("append").start()
    ms.addData(Seq("Hello  World" -> ts(0), "other doc" -> ts(1)))
    q.processAllAvailable()
    ms.addData(Seq("hello world" -> ts(2))) // re-worded whitespace/case only
    q.processAllAvailable()
    q.stop(); q.awaitTermination()
    assert(spark.table("fpdedup_out").count() == 2)
  }

  test("nearDedupByWinnow one-liner: re-worded near-dup dropped, distinct and short docs kept") {
    val ms = new MemoryStream[(Long, String, Timestamp)](17, spark, None)
    val df = ms.toDF().toDF("doc_id", "text", "ts")
    val out = StreamingOps.nearDedupByWinnow("text", "doc_id", "ts", "10 minutes")(df)
    val q = out.writeStream.format("memory").queryName("winnowdedup_out")
      .outputMode("append").start()
    val doc = "the quick brown fox jumps over the lazy dog while the cat sleeps near the warm fire"
    ms.addData(Seq((1L, doc, ts(0)), (2L, "completely unrelated text about spark plans and shuffles today", ts(1))))
    q.processAllAvailable()
    ms.addData(Seq(
      (3L, doc + " tonight", ts(2)), // near-dup: shares the doc's winnow minimum
      (4L, doc, ts(3)),              // exact dup: identical fingerprint set
      (5L, "hi", ts(4)),             // no shingles → passthrough branch
      (6L, "yo", ts(5))))            // no shingles → must also survive
    q.processAllAvailable()
    q.stop(); q.awaitTermination()
    val outDf = spark.table("winnowdedup_out")
    assert(outDf.columns.toSet == Set("doc_id", "text", "ts", "winnow_key"),
      s"payload columns and the original id name must survive: ${outDf.columns.toSeq}")
    val kept = outDf.select("doc_id").as[Long].collect().toSet
    assert(outDf.filter(col("doc_id") === 1L).select("text").as[String].head() == doc,
      "document body must pass through the dedup")
    assert(kept.contains(1L) && kept.contains(2L), s"originals must survive: $kept")
    assert(!kept.contains(4L), "exact duplicate must be dropped")
    assert(!kept.contains(3L), "near-duplicate sharing the winnow minimum must be dropped")
    assert(kept.contains(5L) && kept.contains(6L),
      s"shingle-less docs must pass through undeduplicated: $kept")
  }

  test("stream-stream interval join: purchases match clicks within the window") {
    // both sides watermarked; join condition bounds the state retention
    // (click joins purchases within [click, click + 30 min])
    val clicks = new MemoryStream[(Long, Timestamp)](18, spark, None)
    val buys = new MemoryStream[(Long, Timestamp)](19, spark, None)
    val joined = StreamingOps.streamIntervalJoin(
      clicks.toDF().toDF("user", "cts"), buys.toDF().toDF("buyer", "bts"),
      "user", "buyer", "cts", "bts",
      watermark = "10 minutes", maxDelay = "30 minutes")
    val q = joined.writeStream.format("memory").queryName("ssjoin_out")
      .outputMode("append").start()
    clicks.addData(Seq(1L -> ts(0), 2L -> ts(5)))
    buys.addData(Seq(1L -> ts(10), 2L -> ts(50))) // user 2 buys too late
    q.processAllAvailable()
    // late-arriving click still joins (within watermark)
    clicks.addData(Seq(3L -> ts(20)))
    buys.addData(Seq(3L -> ts(25)))
    q.processAllAvailable()
    q.stop(); q.awaitTermination()
    val got = spark.table("ssjoin_out").select("user").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 3L),
      s"expected users 1 and 3 joined (2 outside the 30-min window), got ${got.toSeq}")
  }

  test("left-outer interval join: unmatched rows emit nulls after watermark expiry") {
    val clicks = new MemoryStream[(Long, Timestamp)](28, spark, None)
    val buys = new MemoryStream[(Long, Timestamp)](29, spark, None)
    val joined = StreamingOps.streamIntervalJoinLeftOuter(
      clicks.toDF().toDF("user", "cts"), buys.toDF().toDF("buyer", "bts"),
      "user", "buyer", "cts", "bts",
      watermark = "10 minutes", maxDelay = "30 minutes")
    val q = joined.writeStream.format("memory").queryName("ssjoin_lo_out")
      .outputMode("append").start()
    clicks.addData(Seq(1L -> ts(0), 2L -> ts(0))) // 1 will match; 2 won't
    buys.addData(Seq(1L -> ts(10)))
    q.processAllAvailable()
    // advance both watermarks far past user 2's join window so the
    // unmatched click can be finalized and emitted with nulls
    clicks.addData(Seq(9L -> ts(300)))
    buys.addData(Seq(8L -> ts(300)))
    q.processAllAvailable()
    q.stop(); q.awaitTermination()
    val rows = spark.table("ssjoin_lo_out")
      .select(col("user"), col("buyer").isNull.as("unmatched"))
      .as[(Long, Boolean)].collect().toSet
    assert(rows.contains((1L, false)), s"user 1 must match: $rows")
    assert(rows.contains((2L, true)),
      s"user 2 must emit with nulls after expiry: $rows")
  }

  test("full-outer interval join: both sides emit nulls after watermark expiry") {
    val clicks = new MemoryStream[(Long, Timestamp)](38, spark, None)
    val buys = new MemoryStream[(Long, Timestamp)](39, spark, None)
    val joined = StreamingOps.streamIntervalJoinFullOuter(
      clicks.toDF().toDF("user", "cts"), buys.toDF().toDF("buyer", "bts"),
      "user", "buyer", "cts", "bts",
      watermark = "10 minutes", maxDelay = "30 minutes")
    val q = joined.writeStream.format("memory").queryName("ssjoin_fo_out")
      .outputMode("append").start()
    // 1 matches; click 2 has no purchase; purchase 7 has no click
    clicks.addData(Seq(1L -> ts(0), 2L -> ts(0)))
    buys.addData(Seq(1L -> ts(10), 7L -> ts(10)))
    q.processAllAvailable()
    // advance both watermarks past every join window so the unmatched
    // rows on each side can be finalized
    clicks.addData(Seq(9L -> ts(300)))
    buys.addData(Seq(8L -> ts(300)))
    q.processAllAvailable()
    q.stop(); q.awaitTermination()
    val rows = spark.table("ssjoin_fo_out")
      .select(col("user"), col("buyer"))
      .as[(Option[Long], Option[Long])].collect().toSet
    assert(rows.contains((Some(1L), Some(1L))), s"user 1 must match: $rows")
    assert(rows.contains((Some(2L), None)),
      s"unmatched click must emit with null buyer: $rows")
    assert(rows.contains((None, Some(7L))),
      s"unmatched purchase must emit with null user: $rows")
  }

  test("enrich: stream decorated from a broadcast dimension, no state, no shuffle") {
    val ms = new MemoryStream[(Long, Timestamp)](21, spark, None)
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("dk", "tier")
    val out = StreamingOps.enrich(ms.toDF().toDF("user", "ets"), dim, "user", "dk")
    val q = out.writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    ms.addData(Seq(1L -> ts(0), 2L -> ts(1), 9L -> ts(2)))
    q.processAllAvailable()
    q.stop(); q.awaitTermination()
    val got = spark.table("enrich_out")
      .select("user", "tier").as[(Long, Option[String])].collect().toMap
    assert(got == Map(1L -> Some("gold"), 2L -> Some("silver"), 9L -> None),
      s"left-enrichment must keep unmatched stream rows: $got")
    // plan: broadcast join, and the stream side must NOT hit an Exchange
    val p = spark.table("enrich_out").queryExecution.executedPlan.toString
    val batchPlan = StreamingOps.enrich(
        Seq((1L, ts(0))).toDF("user", "ets"), dim, "user", "dk")
      .queryExecution.executedPlan.toString
    assert(batchPlan.contains("BroadcastHashJoin"), batchPlan.take(600))
    assert(!batchPlan.contains("Exchange hashpartitioning"),
      s"stream side must stay unshuffled:\n${batchPlan.take(600)}")
  }

  test("funnelProgress: forward-only step machine across micro-batches") {
    val ms = new MemoryStream[(Long, String, Timestamp)](48, spark, None)
    val out = StreamingOps.funnelProgress(ms.toDS(),
      Seq("view", "click", "purchase"))
    val q = out.toDF("user", "steps", "converted").writeStream
      .format("memory").queryName("funnel_out").outputMode("update").start()
    // batch 1: user 1 views then clicks; user 2 clicks only (no view yet
    // — must NOT advance, the funnel is ordered)
    ms.addData(Seq((1L, "view", ts(0)), (1L, "click", ts(5)),
      (2L, "click", ts(0))))
    q.processAllAvailable()
    // batch 2: user 1 purchases (converts); user 2 views (starts step 1)
    ms.addData(Seq((1L, "purchase", ts(10)), (2L, "view", ts(6))))
    q.processAllAvailable()
    q.stop(); q.awaitTermination()
    val last = spark.table("funnel_out").groupBy("user")
      .agg(max("steps").as("steps"), max("converted").as("converted"))
      .as[(Long, Int, Boolean)].collect()
      .map { case (u, s, c) => u -> ((s, c)) }.toMap
    assert(last(1L) == ((3, true)), s"user 1 must convert: $last")
    assert(last(2L) == ((1, false)),
      s"user 2's pre-view click must not count: $last")
  }

  test("sessionEmit: event-time timer emits the session when the gap elapses") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = new MemoryStream[(Long, Timestamp)](58, spark, None)
    val out = StreamingOps.sessionEmit(ms.toDS(), "ets",
      watermark = "0 seconds", gapMs = 10 * 60 * 1000)
    val q = out.toDF("user", "n").writeStream.format("memory")
      .queryName("session_emit_out").outputMode("append").start()
    // user 1: two events close together — one session of 2
    ms.addData(Seq(1L -> ts(0), 1L -> ts(2)))
    q.processAllAvailable()
    // no emission yet: watermark has not passed t(2) + 10min
    assert(spark.table("session_emit_out").isEmpty)
    // another key's event drives the watermark far past the gap
    ms.addData(Seq(9L -> ts(60)))
    q.processAllAvailable()
    // one more batch so the expired timer's emission lands in the sink
    ms.addData(Seq(9L -> ts(61)))
    q.processAllAvailable()
    q.stop(); q.awaitTermination()
    val got = spark.table("session_emit_out").select("user", "n")
      .as[(Long, Long)].collect().toMap
    assert(got.get(1L).contains(2L),
      s"user 1's 2-event session must emit on timer expiry: $got")
  }

  test("transformWithState restart: sessions straddling a checkpoint restart emit exactly once") {
    // r13 verdict item 7: the r13 restart spec (ReliabilitySpec) covers a
    // STATELESS transform; this one stops a live transformWithState query
    // with OPEN sessions in the state store, restarts a NEW query on the
    // same checkpoint, extends one session ACROSS the restart, and
    // asserts (a) the recovered ValueState carries the pre-restart event
    // counts and (b) each session emits exactly once.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = new MemoryStream[(Long, Timestamp)](59, spark, None)
      val ckpt = tmpDir("tws-restart-ckpt")
      val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
      def start() = StreamingOps.sessionEmit(ms.toDS(), "ets",
          watermark = "0 seconds", gapMs = 10 * 60 * 1000)
        .toDF("user", "n").writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => emitted.add((r.getLong(0), r.getLong(1)))); ()
        }
        .outputMode("append").start()
      // phase 1: open sessions for users 1 (2 events) and 2 (1 event)
      // across TWO committed batches — nothing emits (gap not elapsed)
      val q1 = start()
      ms.addData(Seq(1L -> ts(0), 2L -> ts(1)))
      q1.processAllAvailable()
      ms.addData(Seq(1L -> ts(2)))
      q1.processAllAvailable()
      assert(emitted.isEmpty, "sessions must still be open at the stop point")
      q1.stop(); q1.awaitTermination()
      // phase 2: NEW query on the same checkpoint — the RocksDB state
      // store must recover both keys' (cnt, pendingTimer) state
      val q2 = start()
      assert(q2.id == q1.id && q2.runId != q1.runId,
        "restart from the same checkpoint keeps the query id (new runId)")
      // extend user 1's session across the restart (still inside the gap)
      ms.addData(Seq(1L -> ts(4)))
      q2.processAllAvailable()
      // another key's events drive the watermark past every gap, then one
      // more batch so the expired-timer emissions land in the sink
      ms.addData(Seq(9L -> ts(59)))
      q2.processAllAvailable()
      ms.addData(Seq(9L -> Timestamp.valueOf("2024-01-01 12:00:00")))
      q2.processAllAvailable()
      q2.stop(); q2.awaitTermination()
      val got = emitted.toArray(Array.empty[(Long, Long)]).toSeq
      assert(got.filter(_._1 == 1L) == Seq((1L, 3L)),
        s"user 1's session must emit ONCE with all 3 events (2 pre-restart + 1 post): $got")
      assert(got.filter(_._1 == 2L) == Seq((2L, 1L)),
        s"user 2's pre-restart session must survive the restart and emit once: $got")
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("runningCountPerKey: state accumulates across micro-batches") {
    val ms = new MemoryStream[(String, Long)](12, spark, None)
    val out = StreamingOps.runningCountPerKey(ms.toDS())
    val q = out.toDF("k", "n").writeStream.format("memory")
      .queryName("state_out").outputMode("update").start()
    ms.addData(Seq("x" -> 1L, "x" -> 1L, "y" -> 1L))
    q.processAllAvailable()
    ms.addData(Seq("x" -> 1L))
    q.processAllAvailable()
    q.stop(); q.awaitTermination()
    val last = spark.table("state_out").groupBy("k")
      .agg(max("n").as("n")).as[(String, Long)].collect().toMap
    assert(last == Map("x" -> 3L, "y" -> 1L))
  }

  test("annMatchStream: stream probes the persisted LSH index; matches the batch twin") {
    // index over the full embeddings table; stream two batches of query
    // vectors through; result pairs must equal the batch formulation
    // (bucket-join + threshold) with multi-table collisions collapsed
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).cache()
    graft.ops.Similarity.lshIndexBuild(e, "vec_id", "embedding", dim = 64,
      tableName = "graft_spec_ann_stream", tableBuckets = 4, bits = 6, tables = 4)
    val queries = e.filter(col("vec_id") < 8)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val ms = new MemoryStream[(Long, Array[Float], Timestamp)](19, spark, None)
    val df = ms.toDF().toDF("vec_id", "embedding", "ts")
    val out = StreamingOps.annMatchStream(df, "vec_id", "embedding", "ts",
      watermark = "10 minutes", spark, "graft_spec_ann_stream",
      dim = 64, threshold = 0.3, bits = 6, tables = 4, probes = 2)
    val q = out.writeStream.format("memory").queryName("ann_out")
      .outputMode("append").start()
    val (batch1, batch2) = queries.splitAt(4)
    ms.addData(batch1.map { case (id, v) => (id, v, ts(0)) }.toSeq)
    q.processAllAvailable()
    ms.addData(batch2.map { case (id, v) => (id, v, ts(5)) }.toSeq)
    q.processAllAvailable()
    q.stop(); q.awaitTermination()
    val got = spark.table("ann_out").select("q_id", "n_id")
      .as[(Long, Long)].collect().toSet
    // batch twin: same buckets, same threshold, distinct pairs
    val want = graft.ops.Similarity.lshTopK(
        e.filter(col("vec_id") < 8), e, "vec_id", "embedding",
        dim = 64, k = Int.MaxValue, bits = 6, tables = 4, probes = 2)
      .filter(col("sim") >= 0.3)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    assert(got == want,
      s"stream/batch mismatch: extra=${(got -- want).take(5)} missing=${(want -- got).take(5)}")
    assert(got.nonEmpty, "threshold 0.3 should produce at least one match")
  }

  test("annMatchStream: a mid-stream LSH index DELETE takes effect without restart") {
    // the LSH twin of the fingerprint mid-stream-delete pin: builds
    // create the tombstone table empty, the stream plans the live-view
    // anti-join from the start, and a tombstoned vector id stops
    // matching from the next micro-batch on
    import graft.ops.Similarity
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).cache()
    val tbl = "graft_spec_ann_del_stream"
    Similarity.lshIndexBuild(e, "vec_id", "embedding", dim = 64,
      tableName = tbl, tableBuckets = 4, bits = 6, tables = 4)
    val q0 = e.filter(col("vec_id") === 3)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).head
    val ms = new MemoryStream[(Long, Array[Float], Timestamp)](43, spark, None)
    val df = ms.toDF().toDF("vec_id", "embedding", "ts")
    val out = StreamingOps.annMatchStream(df, "vec_id", "embedding", "ts",
      watermark = "10 minutes", spark, tbl,
      dim = 64, threshold = 0.3, bits = 6, tables = 4, probes = 2)
    val q = out.writeStream.format("memory").queryName("ann_del_out")
      .outputMode("append").start()
    try {
      ms.addData(Seq((1000L, q0._2, ts(0)))) // probe BEFORE the delete
      q.processAllAvailable()
      val before = spark.table("ann_del_out").select("n_id")
        .as[Long].collect().toSet
      assert(before.nonEmpty, "the probe must match someone pre-delete")
      // retract every pre-delete neighbor MID-STREAM, re-probe with a
      // fresh query id (the watermark pair-dedup is keyed (q_id, n_id))
      Similarity.lshIndexDelete(
        before.toSeq.toDF("vec_id"), "vec_id", tbl)
      ms.addData(Seq((2000L, q0._2, ts(5))))
      q.processAllAvailable()
      val after = spark.table("ann_del_out")
        .filter(col("q_id") === 2000L).select("n_id")
        .as[Long].collect().toSet
      assert(after.intersect(before).isEmpty,
        s"tombstoned ids must stop matching mid-stream: $after still contains ${after.intersect(before)}")
    } finally {
      q.stop(); q.awaitTermination()
      spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
      spark.sql(s"DROP TABLE IF EXISTS `${tbl}_del`")
    }
  }

  test("ivfPqMatchStream: stream probes the IVFADC index; matches the batch twin across an append") {
    import graft.ops.Similarity
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).cache()
    val cb = Similarity.pqTrain(e, "vec_id", "embedding", m = 4, k = 8, iters = 2)
    val coarse = Similarity.kmeansFit(e, "vec_id", "embedding",
      k = 4, iters = 2, cosine = false)
    val corpus1 = e.filter(col("vec_id") % 2 === 0)
    val corpus2 = e.filter(col("vec_id") % 2 === 1)
    Similarity.ivfPqIndexBuild(corpus1, "vec_id", "embedding", cb, coarse,
      "graft_spec_ivfpq_stream", tableBuckets = 4)
    val queries = e.filter(col("vec_id") < 8)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // threshold: generous enough that both batches match something
    val maxDist = 60.0
    val ms = new MemoryStream[(Long, Array[Float], Timestamp)](29, spark, None)
    val df = ms.toDF().toDF("vec_id", "embedding", "ts")
    val out = StreamingOps.ivfPqMatchStream(df, "vec_id", "embedding", "ts",
      spark, "graft_spec_ivfpq_stream", cb, coarse, maxDist, nprobe = 2)
    val q = out.writeStream.format("memory").queryName("ivfpq_out")
      .outputMode("append").start()
    def batchTwin(ids: Seq[Long]): Set[(Long, Long)] =
      Similarity.ivfPqProbe(spark, "graft_spec_ivfpq_stream",
          e.filter(col("vec_id").isin(ids: _*)), "vec_id", "embedding",
          cb, coarse, k = Int.MaxValue, nprobe = 2)
        .filter(col("dist_adc") <= maxDist)
        .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val (b1, b2) = queries.splitAt(4)
    ms.addData(b1.map { case (id, v) => (id, v, ts(0)) }.toSeq)
    q.processAllAvailable()
    val got1 = spark.table("ivfpq_out").select("q_id", "n_id")
      .as[(Long, Long)].collect().toSet
    val want1 = batchTwin(b1.map(_._1).toSeq)
    assert(got1 == want1,
      s"batch-1 mismatch: extra=${(got1 -- want1).take(5)} missing=${(want1 -- got1).take(5)}")
    // append the second corpus half (same frozen codebooks): the static
    // side re-resolves per micro-batch, so batch 2 must see it
    Similarity.ivfPqIndexAppend(corpus2, "vec_id", "embedding", cb, coarse,
      "graft_spec_ivfpq_stream", tableBuckets = 4)
    ms.addData(b2.map { case (id, v) => (id, v, ts(5)) }.toSeq)
    q.processAllAvailable()
    q.stop(); q.awaitTermination()
    val all = spark.table("ivfpq_out").select("q_id", "n_id")
      .as[(Long, Long)].collect().toSet
    val want2 = batchTwin(b2.map(_._1).toSeq) // twin runs on the APPENDED table
    assert((all -- got1) == want2,
      s"batch-2 mismatch after append: extra=${((all -- got1) -- want2).take(5)} " +
        s"missing=${(want2 -- (all -- got1)).take(5)}")
    assert(got1.nonEmpty && want2.nonEmpty, "fixture must match in both batches")
    // the appended half (odd n_ids) must actually surface in batch 2
    assert(want2.exists(_._2 % 2 == 1), "append must contribute candidates")
  }

  test("dedupIngestStream: drops index hits + in-stream dups; index append takes effect mid-stream") {
    import graft.ops.Dedup
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).cache()
    Dedup.dedupIndexBuild(docs.filter(col("doc_id") % 3 === 0),
      "text", "doc_id", "graft_spec_dd_stream", tableBuckets = 4)
    val b1 = docs.filter(col("doc_id") % 3 === 1)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val b2 = docs.filter(col("doc_id") % 3 === 2)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val ms = new MemoryStream[(Long, String, Timestamp)](23, spark, None)
    val df = ms.toDF().toDF("doc_id", "text", "ts")
    val out = StreamingOps.dedupIngestStream(df, "text", "doc_id", "ts",
      watermark = "10 minutes", spark, "graft_spec_dd_stream")
    val q = out.writeStream.format("memory").queryName("dd_stream_out")
      .outputMode("append").start()
    ms.addData(b1.map { case (id, t) => (id, t, ts(0)) }.toSeq)
    q.processAllAvailable()
    val after1 = spark.table("dd_stream_out").select("doc_id")
      .as[Long].collect().toSet
    // batch twin of batch 1
    val want1 = Dedup.dedupAgainstIndex(spark, "graft_spec_dd_stream",
        docs.filter(col("doc_id") % 3 === 1), "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(after1 == want1,
      s"extra=${(after1 -- want1).take(5)} missing=${(want1 -- after1).take(5)}")
    // append batch 1's survivors, then stream batch 2: the static side
    // re-resolves per micro-batch, so the appended fps must now drop
    Dedup.dedupIndexAppend(spark, "graft_spec_dd_stream",
      docs.filter(col("doc_id").isin(after1.toSeq: _*)), "text", "doc_id",
      tableBuckets = 4)
    ms.addData(b2.map { case (id, t) => (id, t, ts(5)) }.toSeq)
    q.processAllAvailable()
    q.stop(); q.awaitTermination()
    val all = spark.table("dd_stream_out").select("doc_id")
      .as[Long].collect().toSet
    val want2 = Dedup.dedupAgainstIndex(spark, "graft_spec_dd_stream",
        docs.filter(col("doc_id") % 3 === 2), "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert((all -- after1) == want2,
      s"batch-2 survivors diverge from the batch twin after the append")
    assert(after1.nonEmpty && want2.nonEmpty, "fixture must exercise both batches")
  }

  test("linkIngestStream: per-batch matches == batch editIndexProbe twin; editIndexAppend picked up mid-stream") {
    // r15 (r14 verdict item 1): the edit-distance catalog index gets its
    // streaming probe twin — dirty records link at ingest, and a catalog
    // append between micro-batches takes effect WITHOUT restart (the
    // static side re-resolves per micro-batch; appends segment under the
    // index's persisted boundary map, so probe keys keep matching).
    import graft.ops.Linkage
    val cust = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_name")).cache()
    val half = cust.filter(col("c_custkey") % 2 === 0)
    val rest = cust.filter(col("c_custkey") % 2 =!= 0)
    val tbl = "graft_spec_link_stream"
    Linkage.editIndexBuild(half, "c_custkey", "c_name",
      tau = 2, tableName = tbl, tableBuckets = 4)
    // dirty records: one substitution at a key-dependent position — within
    // τ=2 of their own catalog row (the LinkageSpec derivation, small)
    def dirtied(df: org.apache.spark.sql.DataFrame) = {
      val p = (lit(3) + col("c_custkey") % 9).cast("int")
      df.select(col("c_custkey").as("d_id"),
        concat(substr(col("c_name"), lit(1), p - 1), lit("x"),
          substr(col("c_name"), p + 1, length(col("c_name")) - p)).as("d_s"))
    }
    val b1 = dirtied(cust.filter(col("c_custkey") % 5 === 1))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val b2 = dirtied(cust.filter(col("c_custkey") % 5 === 2))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val ms = new MemoryStream[(Long, String, Timestamp)](37, spark, None)
    val df = ms.toDF().toDF("d_id", "d_s", "ts")
    val out = StreamingOps.linkIngestStream(df, "d_id", "d_s", "ts",
      watermark = "10 minutes", spark, tbl)
    val q = out.writeStream.format("memory").queryName("link_stream_out")
      .outputMode("append").start()
    try {
      ms.addData(b1.map { case (id, s) => (id, s, ts(0)) }.toSeq)
      q.processAllAvailable()
      val got1 = spark.table("link_stream_out")
        .select("d_id", "c_id", "dist").as[(Long, Long, Int)].collect().toSet
      val want1 = Linkage.editIndexProbe(spark, tbl,
          b1.toSeq.toDF("d_id", "d_s"), "d_id", "d_s")
        .select("d_id", "c_id", "dist").as[(Long, Long, Int)].collect().toSet
      assert(got1 == want1,
        s"batch-1 stream matches must equal the batch probe twin: " +
          s"extra=${(got1 -- want1).take(5)} missing=${(want1 -- got1).take(5)}")
      // append the odd half of the catalog mid-stream, then batch 2
      Linkage.editIndexAppend(rest, "c_custkey", "c_name",
        tableName = tbl, tableBuckets = 4)
      ms.addData(b2.map { case (id, s) => (id, s, ts(5)) }.toSeq)
      q.processAllAvailable()
      val all = spark.table("link_stream_out")
        .select("d_id", "c_id", "dist").as[(Long, Long, Int)].collect().toSet
      val want2 = Linkage.editIndexProbe(spark, tbl,
          b2.toSeq.toDF("d_id", "d_s"), "d_id", "d_s")
        .select("d_id", "c_id", "dist").as[(Long, Long, Int)].collect().toSet
      assert((all -- got1) == want2,
        "batch-2 stream matches must equal the probe twin over the APPENDED catalog")
      // the append must be load-bearing: batch-2 dirty ids are % 5 === 2,
      // whose own catalog rows (odd custkeys among them) arrived only via
      // the append — without restart those links must still appear
      assert(want2.exists { case (_, cId, _) => cId % 2 == 1 },
        "fixture must contain links reachable only through the appended half")
      assert(got1.nonEmpty && want2.nonEmpty, "both batches must link")
    } finally {
      q.stop(); q.awaitTermination()
      spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
      spark.sql(s"DROP TABLE IF EXISTS `${tbl}_meta`")
    }
  }

  test("dedupIngestStream: a mid-stream index DELETE takes effect without restart") {
    // r15: builds create the tombstone table EMPTY, so the stream's plan
    // carries the live-view anti-join from the start — a delete that
    // lands between micro-batches is picked up by static-side
    // re-resolution, exactly like an append (review finding: a _del
    // table that first appears mid-stream would be invisible).
    import graft.ops.Dedup
    val docs = spark.range(5).select(col("id").as("doc_id"),
      concat(lit("tombstone stream fixture text "), col("id")).as("text"))
    val tbl = "graft_spec_del_stream"
    Dedup.dedupIndexBuild(docs, "text", "doc_id", tbl, tableBuckets = 4)
    val ms = new MemoryStream[(Long, String, Timestamp)](41, spark, None)
    val df = ms.toDF().toDF("doc_id", "text", "ts")
    val out = StreamingOps.dedupIngestStream(df, "text", "doc_id", "ts",
      watermark = "10 minutes", spark, tbl)
    val q = out.writeStream.format("memory").queryName("del_stream_out")
      .outputMode("append").start()
    try {
      // batch 1: doc 2's text is indexed (drops); one novel text passes
      ms.addData(Seq(
        (100L, "tombstone stream fixture text 2", ts(0)),
        (101L, "a wholly novel text", ts(0))))
      q.processAllAvailable()
      val got1 = spark.table("del_stream_out").select("doc_id")
        .as[Long].collect().toSet
      assert(got1 == Set(101L), s"indexed text must drop pre-delete: $got1")
      // retract doc 2's fingerprint MID-STREAM, then send the text again
      Dedup.dedupIndexDelete(spark, tbl, docs.filter(col("doc_id") === 2), "text")
      ms.addData(Seq((102L, "tombstone stream fixture text 2", ts(5))))
      q.processAllAvailable()
      val got2 = spark.table("del_stream_out").select("doc_id")
        .as[Long].collect().toSet
      assert(got2 == Set(101L, 102L),
        s"the retracted fingerprint must re-enter without a restart: $got2")
    } finally {
      q.stop(); q.awaitTermination()
      spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
      spark.sql(s"DROP TABLE IF EXISTS `${tbl}_del`")
    }
  }

  test("dedupIngestStream: a mid-stream APPEND re-inserting a tombstoned key is stream-safe and takes effect") {
    // r15 verdict "what's wrong #1": under the r15 design, an index
    // APPEND that happened to re-insert a tombstoned key rewrote _del's
    // files and killed any live stream planning the live view
    // (FAILED_READ_FILE.FILE_NOT_EXIST) — and callers could not know in
    // advance whether an append would clear. The r16 generation
    // lifecycle makes every op short of compact a pure file append;
    // this runs exactly the hazardous sequence under a running stream.
    import graft.ops.Dedup
    val docs = spark.range(5).select(col("id").as("doc_id"),
      concat(lit("reinsert stream fixture text "), col("id")).as("text"))
    val tbl = "graft_spec_reins_stream"
    Dedup.dedupIndexBuild(docs, "text", "doc_id", tbl, tableBuckets = 4)
    val ms = new MemoryStream[(Long, String, Timestamp)](47, spark, None)
    val df = ms.toDF().toDF("doc_id", "text", "ts")
    val out = StreamingOps.dedupIngestStream(df, "text", "doc_id", "ts",
      watermark = "10 minutes", spark, tbl)
    val q = out.writeStream.format("memory").queryName("reins_stream_out")
      .outputMode("append").start()
    def passed() = spark.table("reins_stream_out").select("doc_id")
      .as[Long].collect().toSet
    try {
      val text2 = "reinsert stream fixture text 2"
      Dedup.dedupIndexDelete(spark, tbl, docs.filter(col("doc_id") === 2), "text")
      // batch 1: the retracted text re-enters as novel
      ms.addData(Seq((101L, text2, ts(0))))
      q.processAllAvailable()
      assert(passed() == Set(101L), s"retracted fp must pass: ${passed()}")
      // MID-STREAM append of the novel survivor — this RE-INSERTS the
      // tombstoned fingerprint while the stream is planning the live
      // view; must be a pure file append (no _del rewrite, no crash)
      Dedup.dedupIndexAppend(spark, tbl,
        Seq((101L, text2)).toDF("doc_id", "text"), "text", "doc_id",
        tableBuckets = 4)
      assert(!spark.table(tbl + "_del").isEmpty,
        "re-inserting append must NOT rewrite the tombstone table")
      // batch 2: the re-inserted fingerprint suppresses again — and the
      // stream survives to process it (the r15 design died here)
      ms.addData(Seq((102L, text2, ts(5))))
      q.processAllAvailable()
      assert(passed() == Set(101L),
        s"re-inserted fp must drop later duplicates mid-stream: ${passed()}")
    } finally {
      q.stop(); q.awaitTermination()
      spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
      spark.sql(s"DROP TABLE IF EXISTS `${tbl}_del`")
    }
  }

  test("linkIngestStream: a mid-stream catalog DELETE takes effect without restart") {
    // r16: the entity-resolution catalog joins the mid-stream-delete
    // family (fingerprint r15, LSH r15) — a withdrawn catalog record
    // stops linking from the next micro-batch on, no restart.
    import graft.ops.Linkage
    val cust = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_name")).cache()
    val tbl = "graft_spec_link_del_stream"
    Linkage.editIndexBuild(cust, "c_custkey", "c_name",
      tau = 2, tableName = tbl, tableBuckets = 4)
    // one substitution inside record 10's name — links to it (dist 1)
    // and possibly to near-duplicate catalog names within the budget
    val probeStr = cust.filter(col("c_custkey") === 10)
      .select(concat(lit("x"), substr(col("c_name"), lit(2), lit(17))))
      .as[String].head()
    val ms = new MemoryStream[(Long, String, Timestamp)](53, spark, None)
    val df = ms.toDF().toDF("d_id", "d_s", "ts")
    val out = StreamingOps.linkIngestStream(df, "d_id", "d_s", "ts",
      watermark = "10 minutes", spark, tbl)
    val q = out.writeStream.format("memory").queryName("link_del_out")
      .outputMode("append").start()
    try {
      ms.addData(Seq((9001L, probeStr, ts(0))))
      q.processAllAvailable()
      val before = spark.table("link_del_out")
        .filter(col("d_id") === 9001L).select("c_id")
        .as[Long].collect().toSet
      assert(before.contains(10L), s"probe must link pre-delete: $before")
      // retract every pre-delete link MID-STREAM; re-probe with a fresh
      // d_id (the watermark pair-dedup is keyed (d_id, c_id))
      Linkage.editIndexDelete(before.toSeq.toDF("c_custkey"),
        "c_custkey", tbl)
      ms.addData(Seq((9002L, probeStr, ts(5))))
      q.processAllAvailable()
      val after = spark.table("link_del_out")
        .filter(col("d_id") === 9002L).select("c_id")
        .as[Long].collect().toSet
      assert(after.intersect(before).isEmpty,
        s"withdrawn catalog records must stop linking mid-stream: " +
          s"${after.intersect(before)}")
    } finally {
      q.stop(); q.awaitTermination()
      Seq(tbl, tbl + "_del", tbl + "_meta").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("ivfPqMatchStream: a mid-stream index DELETE takes effect without restart") {
    // r16: the IVFADC code table joins the mid-stream-delete family —
    // a tombstoned vector id stops surfacing as a neighbor from the
    // next micro-batch on (the operator is stateless, so no dedup-state
    // interaction: the static live view simply re-resolves).
    import graft.ops.Similarity
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).cache()
    val cb = Similarity.pqTrain(e, "vec_id", "embedding", m = 4, k = 8, iters = 2)
    val coarse = Similarity.kmeansFit(e, "vec_id", "embedding",
      k = 4, iters = 2, cosine = false)
    val tbl = "graft_spec_ivfpq_del_stream"
    Similarity.ivfPqIndexBuild(e, "vec_id", "embedding", cb, coarse, tbl,
      tableBuckets = 4)
    val q0 = e.filter(col("vec_id") === 3)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).head
    val ms = new MemoryStream[(Long, Array[Float], Timestamp)](59, spark, None)
    val df = ms.toDF().toDF("vec_id", "embedding", "ts")
    val out = StreamingOps.ivfPqMatchStream(df, "vec_id", "embedding", "ts",
      spark, tbl, cb, coarse, maxDist = 60.0, nprobe = 4)
    val q = out.writeStream.format("memory").queryName("ivfpq_del_out")
      .outputMode("append").start()
    try {
      ms.addData(Seq((1000L, q0._2, ts(0))))
      q.processAllAvailable()
      val before = spark.table("ivfpq_del_out")
        .filter(col("q_id") === 1000L).select("n_id")
        .as[Long].collect().toSet
      assert(before.nonEmpty, "the probe must match someone pre-delete")
      Similarity.ivfPqIndexDelete(before.toSeq.toDF("vec_id"), "vec_id", tbl)
      ms.addData(Seq((2000L, q0._2, ts(5))))
      q.processAllAvailable()
      val after = spark.table("ivfpq_del_out")
        .filter(col("q_id") === 2000L).select("n_id")
        .as[Long].collect().toSet
      assert(after.intersect(before).isEmpty,
        s"tombstoned ids must stop matching mid-stream: " +
          s"${after.intersect(before)}")
    } finally {
      q.stop(); q.awaitTermination()
      Seq(tbl, tbl + "_del").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("bm25ScoreStream: per-batch scores == batch twin; one mid-stream delete shifts the SCORES, not just matches") {
    // r16: the text-search family's streaming serving path — standing-
    // query BM25 at ingest. The stats side (df_t / N / avgdl) is what
    // makes the maintenance case interesting: a delete moves the
    // SCORES of later batches exactly to the batch twin's, not just
    // the match sets.
    import graft.ops.TfIdf
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).cache()
    val terms = Seq("spark", "merge", "window")
    val tbl = "graft_spec_score_stream"
    TfIdf.searchIndexBuild(docs.filter(col("doc_id") % 3 === 0),
      "doc_id", "text", tbl, tableBuckets = 4)
    TfIdf.searchIndexAppend(docs.filter(col("doc_id") % 3 =!= 0),
      "doc_id", "text", tbl, tableBuckets = 4)
    val incoming = docs.filter(col("doc_id") % 3 === 1)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val (b1, _) = incoming.splitAt(incoming.length / 2)
    val b2 = b1.map { case (id, t) => (id + 100000L, t) } // re-send post-delete
    val ms = new MemoryStream[(Long, String, Timestamp)](61, spark, None)
    val df = ms.toDF().toDF("doc_id", "text", "ts")
    val out = StreamingOps.bm25ScoreStream(df, "doc_id", "text", "ts",
      spark, tbl, terms)
    val q = out.writeStream.format("memory").queryName("score_stream_out")
      .outputMode("append").start()
    def twin(batch: Seq[(Long, String)]): Map[Long, (Double, Long)] = {
      import spark.implicits._
      TfIdf.searchIndexScoreDocs(spark, tbl,
          batch.toDF("doc_id", "text"), "doc_id", "text", terms)
        .select("doc_id", "score", "n_terms")
        .as[(Long, Double, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
    }
    def got(ids: Set[Long]): Map[Long, (Double, Long)] = {
      import spark.implicits._
      spark.table("score_stream_out")
        .filter(col("doc_id").isin(ids.toSeq: _*))
        .select("doc_id", "score", "n_terms")
        .as[(Long, Double, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
    }
    def assertAgrees(g: Map[Long, (Double, Long)],
        w: Map[Long, (Double, Long)], tag: String): Unit = {
      assert(g.keySet == w.keySet,
        s"$tag: extra=${(g.keySet -- w.keySet).take(5)} missing=${(w.keySet -- g.keySet).take(5)}")
      assert(g.nonEmpty, s"$tag: fixture must score someone")
      g.foreach { case (id, (s, n)) =>
        assert(math.abs(s - w(id)._1) < 1e-9 && n == w(id)._2,
          s"$tag doc $id: stream ($s, $n) vs batch ${w(id)}")
      }
    }
    try {
      val w1 = twin(b1.toSeq)
      ms.addData(b1.map { case (id, t) => (id, t, ts(0)) }.toSeq)
      q.processAllAvailable()
      assertAgrees(got(b1.map(_._1).toSet), w1, "batch 1")
      // ONE delete mid-stream: retract every fifth indexed doc — df_t
      // AND N/avgdl move, so batch-2 scores (same texts, shifted ids)
      // must land on the post-delete twin and DIFFER from batch 1's
      TfIdf.searchIndexDelete(spark, tbl,
        docs.filter(col("doc_id") % 5 === 0).select("doc_id"), "doc_id")
      val w2 = twin(b2.toSeq)
      ms.addData(b2.map { case (id, t) => (id, t, ts(5)) }.toSeq)
      q.processAllAvailable()
      val g2 = got(b2.map(_._1).toSet)
      assertAgrees(g2, w2, "batch 2 (post-delete)")
      val shifted = g2.exists { case (id, (s, _)) =>
        w1.get(id - 100000L).exists(p => math.abs(p._1 - s) > 1e-9) }
      assert(shifted, "the delete must move at least one re-sent doc's score")
    } finally {
      q.stop(); q.awaitTermination()
      Seq(tbl, tbl + "_del", tbl + "_docs", tbl + "_stats").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("dedupIngestStream: deletes #1, #2 and #3 and a re-append each take effect in the next micro-batch; the index scan stays bucketed") {
    // The index tables are listed every micro-batch
    // (Bucketing.listedTable), so no number of maintenance writes after
    // stream start goes unseen. A stream over plain `spark.table`
    // relations would see only the first write per table
    // (StaticRefreshSpec): deletes #2 and #3 would not re-admit their
    // texts, and the re-append (the second write to the base table)
    // would not drop its text again.
    import graft.ops.Dedup
    val docs = spark.range(10).select(col("id").as("doc_id"),
      concat(lit("listed stream fixture "), col("id")).as("text"))
    def text(i: Long) = s"listed stream fixture $i"
    val tbl = "graft_spec_listed_stream"
    Dedup.dedupIndexBuild(docs, "text", "doc_id", tbl, tableBuckets = 4)
    val ms = new MemoryStream[(Long, String, Timestamp)](83, spark, None)
    val out = StreamingOps.dedupIngestStream(
      ms.toDF().toDF("doc_id", "text", "ts"), "text", "doc_id", "ts",
      "10 minutes", spark, tbl)
    // no broadcast of the index: the anti-join must consume the bucketed
    // scan directly, as the batch probe does
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val q = try out.writeStream.format("memory")
        .queryName("listed_stream_out").outputMode("append").start()
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // the ids one micro-batch lets through
    def batch(rows: Seq[(Long, String)], m: Int): Set[Long] = {
      val before = spark.table("listed_stream_out").select("doc_id")
        .as[Long].collect().toSet
      ms.addData(rows.map { case (id, t) => (id, t, ts(m)) })
      q.processAllAvailable()
      spark.table("listed_stream_out").select("doc_id")
        .as[Long].collect().toSet -- before
    }
    def delete(ids: Long*): Unit =
      Dedup.dedupIndexDelete(spark, tbl,
        docs.filter(col("doc_id").isin(ids: _*)), "text")
    try {
      assert(batch(Seq((105L, text(5)), (106L, text(6)), (107L, text(7)),
        (115L, text(15))), 0) == Set(115L), "indexed texts must drop")
      val plan = {
        val buf = new java.io.ByteArrayOutputStream()
        Console.withOut(buf)(q.explain())
        buf.toString("UTF-8")
      }
      // the index scan and the operators above it, up to its join
      val lines = plan.linesIterator.toIndexedSeq
      def depth(l: String) = l.indexWhere(c => !" :+-".contains(c))
      val scan = lines.indexWhere(_.contains(s"default.$tbl["))
      val chain = Iterator.iterate(scan)(i =>
          lines.lastIndexWhere(l => depth(l) < depth(lines(i)), i - 1))
        .takeWhile(_ >= 0).map(lines).toSeq
      val belowJoin = chain.takeWhile(!_.contains("SortMergeJoin"))
      assert(scan >= 0 && lines(scan).contains("Bucketed: true"),
        "the index scan must read the bucketed layout:\n" + plan)
      assert(belowJoin.size < chain.size &&
        !belowJoin.exists(_.contains("Exchange")),
        "the index side must reach its join with no Exchange:\n" + plan)
      delete(5L, 8L) // write #1 to _del
      assert(batch(Seq((205L, text(5))), 1) == Set(205L), "delete #1")
      delete(6L) // write #2
      assert(batch(Seq((206L, text(6))), 2) == Set(206L), "delete #2")
      delete(7L) // write #3
      assert(batch(Seq((207L, text(7))), 3) == Set(207L), "delete #3")
      // two appends to the base: a novel text, then a re-insert of
      // deleted doc 8 (its text has not streamed since the delete)
      Dedup.dedupIndexAppend(spark, tbl,
        Seq((30L, text(30))).toDF("doc_id", "text"), "text", "doc_id",
        tableBuckets = 4)
      assert(batch(Seq((230L, text(30))), 4).isEmpty, "append #1")
      Dedup.dedupIndexAppend(spark, tbl,
        Seq((8L, text(8))).toDF("doc_id", "text"), "text", "doc_id",
        tableBuckets = 4)
      assert(batch(Seq((208L, text(8)), (209L, text(9)), (240L, text(40))),
        5) == Set(240L), "the re-appended text must drop again")
    } finally {
      q.stop(); q.awaitTermination()
      Seq(tbl, tbl + "_del").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("linkIngestStream: three successive catalog deletes and a re-append each take effect in the next micro-batch") {
    // Same property for the entity-resolution catalog: each withdrawn
    // record stops linking from the next micro-batch on, however many
    // deletes came before, and a re-appended record links again.
    import graft.ops.Linkage
    val cust = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_name")).cache()
    val tbl = "graft_spec_link_listed_stream"
    Linkage.editIndexBuild(cust, "c_custkey", "c_name",
      tau = 2, tableName = tbl, tableBuckets = 4)
    // one substitution inside record 10's name: links to it and to the
    // catalog names within two edits of it
    val probeStr = cust.filter(col("c_custkey") === 10)
      .select(concat(lit("x"), substr(col("c_name"), lit(2), lit(17))))
      .as[String].head()
    val ms = new MemoryStream[(Long, String, Timestamp)](84, spark, None)
    val out = StreamingOps.linkIngestStream(
      ms.toDF().toDF("d_id", "d_s", "ts"), "d_id", "d_s", "ts",
      watermark = "10 minutes", spark, tbl)
    val q = out.writeStream.format("memory").queryName("link_listed_out")
      .outputMode("append").start()
    // a fresh d_id per micro-batch: the (d_id, c_id) dedup is watermarked
    def links(dId: Long, m: Int): Set[Long] = {
      ms.addData(Seq((dId, probeStr, ts(m))))
      q.processAllAvailable()
      spark.table("link_listed_out").filter(col("d_id") === dId)
        .select("c_id").as[Long].collect().toSet
    }
    def delete(id: Long): Unit =
      Linkage.editIndexDelete(Seq(id).toDF("c_custkey"), "c_custkey", tbl)
    try {
      val all = links(9000L, 0)
      val gone = all.toSeq.sorted.take(3)
      assert(all.contains(10L) && all.size > 3,
        s"the probe must link to more than three records: $all")
      gone.zipWithIndex.foreach { case (id, i) =>
        delete(id)
        assert(links(9001L + i, i + 1) == all -- gone.take(i + 1),
          s"delete #${i + 1} (record $id) must stop linking")
      }
      Linkage.editIndexAppend(cust.filter(col("c_custkey") === gone.head),
        "c_custkey", "c_name", tbl, tableBuckets = 4)
      assert(links(9010L, 5) == all -- gone.tail,
        s"re-appended record ${gone.head} must link again")
    } finally {
      q.stop(); q.awaitTermination()
      Seq(tbl, tbl + "_del", tbl + "_meta").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("bm25ScoreStream: two mid-stream appends each shift the next micro-batch's scores exactly as the batch twin's") {
    // Every append writes the postings, `_docs` and `_stats`; the stream
    // plans all three through listed reads, so the second append moves
    // the scores too (with plain `spark.table` relations the second write
    // per table would be invisible and batch 3 would score against the
    // first append's statistics).
    import graft.ops.TfIdf
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).cache()
    val terms = Seq("spark", "merge", "window")
    val tbl = "graft_spec_score_appends"
    TfIdf.searchIndexBuild(docs.filter(col("doc_id") % 3 === 0),
      "doc_id", "text", tbl, tableBuckets = 4)
    val sent = docs.filter(col("doc_id") % 3 === 1).limit(40)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val ms = new MemoryStream[(Long, String, Timestamp)](85, spark, None)
    val out = StreamingOps.bm25ScoreStream(
      ms.toDF().toDF("doc_id", "text", "ts"), "doc_id", "text", "ts",
      spark, tbl, terms)
    val q = out.writeStream.format("memory").queryName("score_appends_out")
      .outputMode("append").start()
    // the same texts under ids shifted per micro-batch
    def scores(shift: Long, m: Int): Map[Long, Double] = {
      val batch = sent.map { case (id, t) => (id + shift, t) }
      val twin = TfIdf.searchIndexScoreDocs(spark, tbl,
          batch.toDF("doc_id", "text"), "doc_id", "text", terms)
        .select("doc_id", "score").as[(Long, Double)].collect()
        .map { case (id, s) => (id - shift) -> s }.toMap
      ms.addData(batch.map { case (id, t) => (id, t, ts(m)) })
      q.processAllAvailable()
      val got = spark.table("score_appends_out")
        .filter(col("doc_id") >= shift && col("doc_id") < shift + 100000L)
        .select("doc_id", "score").as[(Long, Double)].collect()
        .map { case (id, s) => (id - shift) -> s }.toMap
      assert(got.nonEmpty && got.keySet == twin.keySet,
        s"batch at shift $shift: ${got.keySet} vs ${twin.keySet}")
      got.foreach { case (id, s) =>
        assert(math.abs(s - twin(id)) < 1e-9,
          s"doc $id at shift $shift: stream $s vs batch ${twin(id)}")
      }
      got
    }
    try {
      val s1 = scores(100000L, 0)
      TfIdf.searchIndexAppend(docs.filter(col("doc_id") % 3 === 1),
        "doc_id", "text", tbl, tableBuckets = 4)
      val s2 = scores(200000L, 1)
      TfIdf.searchIndexAppend(docs.filter(col("doc_id") % 3 === 2),
        "doc_id", "text", tbl, tableBuckets = 4)
      val s3 = scores(300000L, 2)
      def moved(a: Map[Long, Double], b: Map[Long, Double]) =
        a.exists { case (id, s) => b.get(id).exists(x => math.abs(x - s) > 1e-9) }
      assert(moved(s1, s2), "append #1 must move the scores")
      assert(moved(s2, s3), "append #2 must move the scores")
    } finally {
      q.stop(); q.awaitTermination()
      Seq(tbl, tbl + "_del", tbl + "_docs", tbl + "_stats").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("image dedup-at-ingest: dHash fingerprints through the generic streaming index shape") {
    // streaming × multimodal: the SAME incremental-corpus lifecycle the
    // text pipeline uses (persisted fp index → stream-static anti-join →
    // watermark first-holder election), driven by image dHashes — the
    // generic fingerprintIngestStream/fingerprintIndexBuild core.
    import graft.ops.{Codecs, Dedup, Multimodal}
    val bmp = udf((s: Long) => Codecs.synthBmpNear(s, 0))
    val dhash = udf((p: Array[Byte]) =>
      Option(Codecs.bmpDHash(p)).map(_.longValue))
    // historical index: images with seeds 0..9
    val hist = spark.range(10).toDF("media_id")
      .select(col("media_id"), bmp(col("media_id")).as("payload"))
    Dedup.fingerprintIndexBuild(
      Multimodal.imageDHash(hist)
        .select(col("sig").as("fp"), col("id").as("first_id")),
      "graft_spec_img_idx", tableBuckets = 4)
    val ms = new MemoryStream[(Long, Timestamp)](31, spark, None)
    val df = ms.toDF().toDF("media_id", "ts")
      .withColumn("payload", bmp(col("media_id") % 15))
      .withColumn("sig", dhash(col("payload")))
    val out = StreamingOps.fingerprintIngestStream(df, "sig", "ts",
      watermark = "10 minutes", spark, "graft_spec_img_idx")
    val q = out.writeStream.format("memory").queryName("img_ingest_out")
      .outputMode("append").start()
    // batch 1: ids 0..29 → seeds id%15: 0..9 are index hits, 10..14
    // novel, and each novel seed arrives TWICE (ids s and s+15) — the
    // in-stream duplicate the watermark election must collapse
    ms.addData((0L until 30L).map(id => (id, ts(0))))
    q.processAllAvailable()
    val b1 = spark.table("img_ingest_out")
      .select((col("media_id") % 15).as("seed")).as[Long].collect().toSeq
    assert(b1.sorted == Seq(10L, 11L, 12L, 13L, 14L),
      s"batch-1 survivors must be exactly one holder per novel seed: $b1")
    // append the survivors' fingerprints; the static side re-resolves
    // per micro-batch, so batch 2 (every seed 0..14) must fully dedup
    Dedup.fingerprintIndexAppend(
      spark.table("img_ingest_out")
        .select(col("sig").as("fp"), col("media_id").as("first_id")),
      "graft_spec_img_idx", tableBuckets = 4)
    ms.addData((30L until 50L).map(id => (id, ts(5))))
    q.processAllAvailable()
    q.stop(); q.awaitTermination()
    val all = spark.table("img_ingest_out").count()
    assert(all == 5, s"batch 2 must be fully deduplicated, total=$all")
  }

  test("tumbling window streaming agg matches the batch q_time_bucket shape") {
    val ms = new MemoryStream[(Long, Timestamp)](13, spark, None)
    val df = ms.toDF().toDF("v", "ts")
    val out = StreamingOps.tumbling(df, "ts", "1 hour",
      Seq(count(lit(1)).as("n"), sum("v").as("s")), watermark = Some("1 minute"))
    val q = out.writeStream.format("memory").queryName("tumble_out")
      .outputMode("append").start()
    ms.addData(Seq(1L -> ts(0), 2L -> ts(30), 3L -> Timestamp.valueOf("2024-01-01 11:15:00")))
    ms.addData(Seq(0L -> Timestamp.valueOf("2024-01-02 00:00:00"))) // watermark push
    q.processAllAvailable()
    q.stop(); q.awaitTermination()
    val rows = spark.table("tumble_out")
      .select(col("window_start").cast("string"), col("n"), col("s"))
      .as[(String, Long, Long)].collect().sortBy(_._1)
    assert(rows.toSeq == Seq(
      ("2024-01-01 10:00:00", 2L, 3L), ("2024-01-01 11:00:00", 1L, 3L)))
  }
}
