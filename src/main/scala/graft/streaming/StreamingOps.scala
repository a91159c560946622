package graft.streaming

import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Event-time streaming operators (SURVEY §2.3 streaming rows).
  *
  * The reference's only time machinery is the batcher's count/time flush
  * (x/batcher/batcher.go:341-371); these are the analytic generalization
  * the north star asks for: event-time windows, watermarked late-data
  * handling, gap sessions, keyed state.
  *
  * EVERY streaming probe below that joins a persisted index statically
  * reads the index tables through [[graft.ops.Bucketing.listedTable]]:
  * the bucketed V1 relation of `spark.table`, with the table's files
  * listed each time a micro-batch is planned. Every append, delete and
  * re-insert after stream start therefore takes effect from the next
  * micro-batch on, with no restart and no bound on the number of writes
  * (StreamingSpec, StaticRefreshSpec); a micro-batch planned while an
  * append's job is committing may see part of it, and the next one sees
  * all of it. "Takes effect without restart" in the per-operator docs
  * means exactly this. Compact rewrites index files and must run with
  * no live stream over the index
  * ([[graft.ops.Bucketing.maintainIfAdvised]] enforces it).
  */
object StreamingOps {

  /** Tumbling event-time window aggregation. */
  def tumbling(df: DataFrame, tsCol: String, width: String,
      aggs: Seq[Column], watermark: Option[String] = None): DataFrame = {
    val in = watermark.fold(df)(w => df.withWatermark(tsCol, w))
    in.groupBy(window(col(tsCol), width)).agg(aggs.head, aggs.tail: _*)
      .select(col("window.start").as("window_start"), col("*")).drop("window")
  }

  /** Sliding event-time window aggregation. */
  def sliding(df: DataFrame, tsCol: String, width: String, slide: String,
      aggs: Seq[Column], watermark: Option[String] = None): DataFrame = {
    val in = watermark.fold(df)(w => df.withWatermark(tsCol, w))
    in.groupBy(window(col(tsCol), width, slide)).agg(aggs.head, aggs.tail: _*)
      .select(col("window.start").as("window_start"), col("*")).drop("window")
  }

  /** Gap-based session windows keyed by `keys`. */
  def sessionWindow(df: DataFrame, tsCol: String, gap: String,
      keys: Seq[String], aggs: Seq[Column], watermark: String): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap) +: keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("session_start", col("session_window.start"))
      .withColumn("session_end", col("session_window.end"))
      .drop("session_window")

  /** Watermarked stream–stream interval join: each left event joins right
    * events with the same key whose timestamp lands in
    * [leftTs, leftTs + maxDelay]. Both sides carry the watermark and the
    * time bound appears in the join condition — that pair is what lets
    * Spark EVICT join state (without it, both sides buffer forever and a
    * 100 TB/day stream OOMs by lunch). State per key is bounded by
    * watermark + maxDelay; output is append-mode once both watermarks
    * pass the bound. */
  def streamIntervalJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, leftTs: String, rightTs: String,
      watermark: String, maxDelay: String,
      joinType: String = "inner"): DataFrame =
    left.withWatermark(leftTs, watermark)
      .join(right.withWatermark(rightTs, watermark),
        col(leftKey) === col(rightKey) &&
          col(rightTs) >= col(leftTs) &&
          col(rightTs) <= col(leftTs) + expr(s"interval $maxDelay"),
        joinType)

  /** Left-outer stream–stream interval join: like the inner variant, but
    * an unmatched left row is EMITTED WITH NULLS once the watermark
    * passes its join window (Spark can only then prove no future match
    * exists) — the streaming twin of "click with no purchase within N
    * minutes". Same bounded-state contract; unmatched output is
    * watermark-delayed by construction. */
  def streamIntervalJoinLeftOuter(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, leftTs: String, rightTs: String,
      watermark: String, maxDelay: String): DataFrame =
    streamIntervalJoin(left, right, leftKey, rightKey, leftTs, rightTs,
      watermark, maxDelay, joinType = "leftOuter")

  /** Full-outer stream–stream interval join: unmatched rows from BOTH
    * sides emit with nulls once their watermark-bounded join window
    * closes — "every click and every purchase, matched where possible".
    * Same bounded-state contract as the inner variant; each side's
    * unmatched output is delayed until the opposite watermark proves no
    * future partner can arrive. */
  def streamIntervalJoinFullOuter(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, leftTs: String, rightTs: String,
      watermark: String, maxDelay: String): DataFrame =
    streamIntervalJoin(left, right, leftKey, rightKey, leftTs, rightTs,
      watermark, maxDelay, joinType = "fullOuter")

  /** Stream–static enrichment join: the dimension is broadcast to every
    * task, so the stream is never shuffled and no join state is kept —
    * the right shape for decorating an event stream with a
    * dimension-sized lookup (the batch twin is q_join_inner_groupby's
    * broadcast join). The dimension is re-resolved per micro-batch, so a
    * refreshed Delta/parquet dim picks up new rows without a restart. */
  def enrich(stream: DataFrame, dim: DataFrame, streamKey: String,
      dimKey: String, joinType: String = "left"): DataFrame =
    stream.join(broadcast(dim), col(streamKey) === col(dimKey), joinType)

  /** Streaming ANN matcher against a PERSISTED LSH index
    * ([[graft.ops.Similarity.lshIndexBuild]]): each incoming vector is
    * bucketed with the index's (bits, tables, seed) + multi-probes,
    * stream-static equi-joined against the bucketed signature table,
    * exact-cosine scored, and emitted when sim ≥ threshold. The join is
    * STATELESS (static side re-resolved per micro-batch — an
    * [[graft.ops.Similarity.lshIndexAppend]] between batches is picked
    * up without restart); the only state is the watermark-bounded
    * (q_id, n_id) dedup that collapses multi-table/multi-probe bucket
    * collisions of the same pair. Threshold-match rather than top-k:
    * per-group ranking windows aren't available in append-mode
    * streaming, and the match-stream contract (near-dup alarms,
    * dedup-at-ingest) is the streaming-native one anyway.
    * Output: q_id, ts, n_id, sim (append mode). */
  def annMatchStream(stream: DataFrame, idCol: String, vecCol: String,
      tsCol: String, watermark: String, spark: SparkSession,
      tableName: String, dim: Int, threshold: Double,
      bits: Int = 8, tables: Int = 4, probes: Int = 0,
      seed: Long = 42L): DataFrame = {
    import graft.functions.VectorFunctions._
    val buckets = {
      val all = (0 until tables).flatMap { t =>
        val sig = hyperplaneSig(col(vecCol), bits, dim, seed + t)
        val base = lit(t.toLong * (1L << bits)) + sig
        base +: (0 until probes).map(i =>
          lit(t.toLong * (1L << bits)) + sig.bitwiseXOR(lit(1L << i)))
      }
      array(all: _*)
    }
    val q = stream.select(col(idCol).as("q_id"), col(tsCol).as("ts"),
      col(vecCol).as("qv"), explode(buckets).as("bucket"))
    q.join(graft.ops.Similarity.liveLshIndex(spark, tableName), "bucket")
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("sim", cosineN(col("qv"), col("nv")))
      .filter(col("sim") >= threshold)
      .select("q_id", "ts", "n_id", "sim")
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("q_id", "n_id")
  }

  /** Streaming ANN matcher against a PERSISTED IVFADC index
    * ([[graft.ops.Similarity.ivfPqIndexBuild]]) — [[annMatchStream]]'s
    * product-quantized sibling for corpora too large to hold raw
    * signatures: the stream-static cell join leaves the inverted file
    * Exchange-free and picks up index appends between micro-batches;
    * fully stateless (a pair meets at most once — one cell per corpus
    * row, distinct probe cells — so there is no dedup state to keep).
    * StreamingSpec pins it against the batch
    * [[graft.ops.Similarity.ivfPqProbe]] twin. */
  def ivfPqMatchStream(stream: DataFrame, idCol: String, vecCol: String,
      tsCol: String, spark: SparkSession, tableName: String,
      codebooks: Array[Array[Seq[Double]]],
      coarseCents: Array[Seq[Double]],
      maxDist: Double, nprobe: Int = 3): DataFrame =
    graft.ops.Similarity.ivfPqMatchStream(stream, idCol, vecCol, tsCol,
      spark, tableName, codebooks, coarseCents, maxDist, nprobe)

  /** Streaming linkage-at-ingest (r15) against a PERSISTED
    * entity-resolution catalog index
    * ([[graft.ops.Linkage.editIndexBuild]]) — entity resolution is an
    * ingest-time operation in production: each dirty record links
    * against the reference catalog the moment it arrives. Stream-static
    * equi-join on the index's bucketed segment-key hash (stateless —
    * the static side re-resolves per micro-batch, so an
    * [[graft.ops.Linkage.editIndexAppend]] between batches is picked up
    * without restart; appends segment under the index's PERSISTED
    * boundary map, so probe keys keep matching), banded
    * threshold-levenshtein verify, broadcast naive leg for
    * unsegmentable short catalog strings, and a watermark-bounded
    * (d_id, c_id) dedup as the only state. Batch twin:
    * [[graft.ops.Linkage.editIndexProbe]] (StreamingSpec pins the match
    * sets against it across an append). Output: (d_id, d_s, ts, c_id,
    * c_s, dist), append mode — exact recall vs the catalog as of each
    * micro-batch. */
  def linkIngestStream(stream: DataFrame, idCol: String, strCol: String,
      tsCol: String, watermark: String, spark: SparkSession,
      tableName: String): DataFrame =
    graft.ops.Linkage.editIndexMatchStream(stream, idCol, strCol, tsCol,
      watermark, spark, tableName)

  /** Standing-query BM25 scoring at ingest (r16) — the text-search
    * family's streaming serving path (every other retrieval modality
    * had one: ANN match, dedup-at-ingest, linkage-at-ingest). Each
    * incoming document scores against the PERSISTED posting index's
    * live statistics (df_t / N / avgdl) for a fixed set of standing
    * query terms — the reference's filter-then-route shape with a
    * learned-statistics scorer (alerting on keyword relevance, routing
    * by topic). STATELESS per-row projection; each index append/delete
    * after stream start shifts the next micro-batch's scores without
    * restart (see the object doc). Batch twin:
    * [[graft.ops.TfIdf.searchIndexScoreDocs]] (TfIdfSpec pins
    * batch ≡ probe; StreamingSpec pins stream ≡ batch across a
    * mid-stream delete, scores not just matches). */
  def bm25ScoreStream(stream: DataFrame, idCol: String, textCol: String,
      tsCol: String, spark: SparkSession, tableName: String,
      queryTerms: Seq[String], minScore: Double = 0.0): DataFrame =
    graft.ops.TfIdf.searchScoreStream(stream, idCol, textCol, tsCol,
      spark, tableName, queryTerms, minScore)

  /** Exact streaming dedup within the watermark horizon — at-least-once
    * input → effectively-once output (≈ the conformance suite's no-dup
    * assertion, /root/reference/test/suite_test.go:95-104, as an operator).
    */
  def dedupWithinWatermark(df: DataFrame, tsCol: String, watermark: String,
      keys: Seq[String]): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Dedup-at-ingest against a PERSISTED fingerprint index
    * ([[graft.ops.Dedup.dedupIndexBuild]]) — the streaming half of the
    * incremental-corpus lifecycle: a document survives a micro-batch iff
    * its normalized-text fingerprint is absent from the historical index
    * (stream-static LEFT ANTI join — stateless, the static side is
    * re-resolved per micro-batch, so a [[graft.ops.Dedup
    * .dedupIndexAppend]] between batches takes effect without restart)
    * AND it is the first holder of that fingerprint within the
    * watermark horizon (`dropDuplicatesWithinWatermark` on the
    * fingerprint — the only state, watermark-bounded). Batch twin:
    * [[graft.ops.Dedup.dedupAgainstIndex]] (StreamingSpec pins the
    * survivor sets against it across an append). Output: the input
    * columns, append mode. */
  def dedupIngestStream(stream: DataFrame, textCol: String, idCol: String,
      tsCol: String, watermark: String, spark: SparkSession,
      tableName: String): DataFrame = {
    val withFp = stream.withColumn("_fp",
      graft.functions.TextFunctions.fingerprint(col(textCol)))
    fingerprintIngestStream(withFp, "_fp", tsCol, watermark, spark, tableName)
      .drop("_fp")
  }

  /** The modality-agnostic core of [[dedupIngestStream]]: dedup-at-ingest
    * over an ALREADY-COMPUTED fingerprint column against a
    * [[graft.ops.Dedup.fingerprintIndexBuild]] table — text fingerprints,
    * image dHashes ([[graft.ops.Multimodal.imageDHash]]), audio energy
    * fingerprints, and video keyframe hashes all stream through this one
    * shape: stream-static LEFT ANTI join (stateless; the static side
    * re-resolves per micro-batch, so an index append takes effect
    * without restart) + first-holder election within the watermark
    * horizon (the only state, watermark-bounded). */
  def fingerprintIngestStream(stream: DataFrame, fpCol: String,
      tsCol: String, watermark: String, spark: SparkSession,
      tableName: String): DataFrame = {
    stream
      .join(graft.ops.Dedup.liveFingerprintIndex(spark, tableName),
        col(fpCol) === col("fp"), "left_anti")
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(fpCol)
  }

  /** Streaming NEAR-dedup as a Pipeline.via one-liner: key each document
    * by the minimum of its winnowing fingerprints
    * ([[graft.ops.Dedup.winnowFingerprints]], SIGMOD'03) — the bottom-1
    * sketch of the shingle set — and drop duplicates of that key within
    * the watermark. Two documents share the key with probability equal to
    * their shingle-set Jaccard similarity, so this drops re-worded
    * re-ingestions (not just byte-identical ones) at a rate that tracks
    * their similarity; it is probabilistic by design — the streaming
    * counterpart of the batch pair-verify pipeline, for when a cheap
    * bounded-state filter is worth a controlled false-drop rate. Exact
    * duplicates always collide (identical fingerprint sets). Documents
    * with no shingles (shorter than the shingle length) are passed
    * through undeduplicated rather than silently collapsing onto one
    * empty-sketch key. Output: every input column (payload preserved,
    * `idCol` keeps its name) plus the added `winnow_key` column. */
  def nearDedupByWinnow(textCol: String, idCol: String, tsCol: String,
      watermark: String, shingleLen: Int = 3,
      window: Int = 4): DataFrame => DataFrame =
    df => {
      require(idCol == "id" || !df.columns.contains("id"),
        "nearDedupByWinnow: input already has an 'id' column distinct from idCol")
      val others = df.columns.toSeq.filterNot(_ == idCol)
      val fps = graft.ops.Dedup.winnowFingerprints(
          df, textCol, idCol, shingleLen, window, keep = others)
        .withColumn("winnow_key",
          when(size(col("fps")) === 0, lit(null)).otherwise(array_min(col("fps"))))
        .drop("fps")
        .withColumnRenamed("id", idCol)
        .withWatermark(tsCol, watermark) // before the branch: both sides carry it
      val keyed = fps.filter(col("winnow_key").isNotNull)
        .dropDuplicatesWithinWatermark(Seq("winnow_key"))
      keyed.unionByName(fps.filter(col("winnow_key").isNull))
    }

  /** Streaming DDSketch accumulation: because the sketch is bucket
    * COUNTS ([[graft.ops.Sketches]]), the batch builder runs unchanged
    * on a streaming DataFrame — Spark's streaming aggregation state IS
    * the sketch, updated incrementally per micro-batch with no custom
    * state code. Read quantiles off any snapshot with
    * [[graft.ops.Sketches.ddsketchQuantiles]]; StreamingSpec pins that
    * the post-stream state equals the batch-built sketch bucket-for-
    * bucket (the mergeability law, streaming edition). Use
    * complete/update output mode (unwindowed running aggregate). */
  def ddsketchStream(df: DataFrame, valueCol: String, keys: Seq[String],
      alpha: Double = 0.01): DataFrame =
    graft.ops.Sketches.ddsketchBuild(df, valueCol, keys, alpha)

  /** Arbitrary per-key running state (the generalization of the
    * reference's per-key ack/offset bookkeeping): counts events and emits
    * (key, runningCount) per update. Demonstrates mapGroupsWithState for
    * state the SQL surface can't express. */
  def runningCountPerKey[K](ds: Dataset[(K, Long)])(
      implicit ek: org.apache.spark.sql.Encoder[K],
      et: org.apache.spark.sql.Encoder[(K, Long)],
      es: org.apache.spark.sql.Encoder[Long]): Dataset[(K, Long)] =
    ds.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: K, rows: Iterator[(K, Long)], state: GroupState[Long]) =>
          val prev = state.getOption.getOrElse(0L)
          val next = prev + rows.size
          state.update(next)
          (key, next)
      }

  /** Streaming funnel: per-key progression through an ordered step list
    * (the streaming twin of the batch q_funnel_steps). State per key is
    * two numbers — (steps reached, event-time of the last advance) — so
    * a 100 TB/day stream carries O(|active users|) state, not events.
    * Rows are applied in event-time order WITHIN each micro-batch; the
    * step machine is forward-only, so a late earlier-step event can
    * never regress progress (it is simply ignored — the documented
    * trade-off of funnel tracking without full event buffering). Emits
    * (key, stepsReached, converted) per updated key, Update-mode. */
  def funnelProgress(ds: Dataset[(Long, String, java.sql.Timestamp)],
      steps: Seq[String]): Dataset[(Long, Int, Boolean)] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, String, java.sql.Timestamp)],
            state: GroupState[(Int, Long)]) =>
          var (idx, lastTs) = state.getOption.getOrElse((0, Long.MinValue))
          rows.toSeq.sortBy(_._3.getTime).foreach { case (_, et, ts) =>
            if (idx < steps.length && et == steps(idx) &&
                ts.getTime >= lastTs) {
              idx += 1; lastTs = ts.getTime
            }
          }
          state.update((idx, lastTs))
          (user, idx, idx == steps.length)
      }
  }

  /** Per-key token-bucket rate limiting — the admission-control twin of
    * the reference's batcher backpressure (kawa bounds flush
    * concurrency; this bounds per-key event rate). State per key is two
    * numbers (fractional tokens, last event-time ms); events are
    * applied in event-time order within each micro-batch, refilling
    * `refillPerSec` up to `capacity` and admitting while a whole token
    * remains. Emits (key, admitted, dropped) per updated key per batch
    * — O(|active keys|) state at any stream size. */
  def rateLimitPerKey(ds: Dataset[(Long, java.sql.Timestamp)],
      capacity: Int, refillPerSec: Double): Dataset[(Long, Long, Long)] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[(Long, java.sql.Timestamp)],
            state: GroupState[(Double, Long)]) =>
          var (tokens, lastMs) =
            state.getOption.getOrElse((capacity.toDouble, Long.MinValue))
          var admitted = 0L
          var dropped = 0L
          rows.toSeq.sortBy(_._2.getTime).foreach { case (_, ts) =>
            val t = ts.getTime
            if (lastMs == Long.MinValue) lastMs = t
            val refill = math.max(0L, t - lastMs) / 1000.0 * refillPerSec
            tokens = math.min(capacity.toDouble, tokens + refill)
            lastMs = math.max(lastMs, t)
            if (tokens >= 1.0) { tokens -= 1.0; admitted += 1 }
            else dropped += 1
          }
          state.update((tokens, lastMs))
          (key, admitted, dropped)
      }
  }

  /** Per-key running (count, sum, max) via transformWithState — Spark 4's
    * arbitrary-state API (successor to mapGroupsWithState; typed state
    * handles, timers, TTL, RocksDB-backed). Requires
    * `spark.sql.streaming.stateStore.providerClass =
    * ...state.RocksDBStateStoreProvider` on the session. */
  class RunningStatsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Double), (String, Long, Double, Double)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var stats: ValueState[(Long, Double, Double)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      stats = getHandle.getValueState[(Long, Double, Double)](
        "stats", Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble,
          Encoders.scalaDouble), TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[(String, Double)],
        timerValues: TimerValues): Iterator[(String, Long, Double, Double)] = {
      var (n, sum, max) =
        if (stats.exists()) stats.get() else (0L, 0.0, Double.NegativeInfinity)
      rows.foreach { case (_, v) =>
        n += 1; sum += v; if (v > max) max = v
      }
      stats.update((n, sum, max))
      Iterator.single((key, n, sum, max))
    }
  }

  /** Timeout-emitted sessions via transformWithState EVENT-TIME TIMERS —
    * the piece `session_window` aggregation doesn't give you: an output
    * row the moment the watermark proves a key's session is over (gap
    * elapsed), not when the next aggregation trigger happens to fire.
    * Per key the state is two longs (event count, pending timer); every
    * batch re-arms the timer at maxEventTime + gap, and the expiry
    * callback emits (key, sessionCount) and clears — bounded state, no
    * event buffering, deterministic under event-time (the spec drives
    * the watermark with data, not wall clock). */
  class SessionEmitProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, java.sql.Timestamp), (Long, Long)] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var cnt: ValueState[Long] = _
    @transient private var pendingTimer: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      cnt = getHandle.getValueState[Long]("cnt", Encoders.scalaLong,
        TTLConfig.NONE)
      pendingTimer = getHandle.getValueState[Long]("pendingTimer",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, java.sql.Timestamp)],
        timerValues: TimerValues): Iterator[(Long, Long)] = {
      var n = if (cnt.exists()) cnt.get() else 0L
      var maxTs = Long.MinValue
      rows.foreach { case (_, ts) =>
        n += 1; if (ts.getTime > maxTs) maxTs = ts.getTime
      }
      cnt.update(n)
      if (pendingTimer.exists()) getHandle.deleteTimer(pendingTimer.get())
      val t = maxTs + gapMs
      getHandle.registerTimer(t)
      pendingTimer.update(t)
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[(Long, Long)] = {
      val n = if (cnt.exists()) cnt.get() else 0L
      cnt.clear(); pendingTimer.clear()
      Iterator.single((key, n))
    }
  }

  /** transformWithState wiring for [[SessionEmitProcessor]]: requires a
    * watermark on `tsCol` (event-time timers fire off the watermark). */
  def sessionEmit(ds: Dataset[(Long, java.sql.Timestamp)], tsCol: String,
      watermark: String, gapMs: Long): Dataset[(Long, Long)] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import ds.sparkSession.implicits._
    ds.toDF("k", tsCol).withWatermark(tsCol, watermark)
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new SessionEmitProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** transformWithState wiring for [[RunningStatsProcessor]]. */
  def runningStats(ds: Dataset[(String, Double)]): Dataset[(String, Long, Double, Double)] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .transformWithState(new RunningStatsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Drain a finite stream: process everything available, then return —
    * the reference's EOF-drain contract (x/scanner/scanner.go:61-78). */
  def runToCompletion(q: StreamingQuery): Unit = {
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
  }
}
