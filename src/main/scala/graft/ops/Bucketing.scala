package graft.ops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Bucketed-layout co-located joins — the 100 TB answer to "this join
  * shuffles the fact table every single run".
  *
  * Writing both sides `bucketBy(n, key)` once means every subsequent
  * equi-join on that key is Exchange-free: each task reads bucket i of
  * both tables and sort-merge-joins them locally. At cluster scale the
  * one-time bucketed write replaces a per-query shuffle of the larger
  * table — the canonical amortization for a fact table joined on the
  * same key by many queries (kawa's `Message.Key` sharding generalized
  * to persistent layout; reference keys messages for exactly this
  * co-location purpose, types.go:13-14).
  *
  * Uses Spark's built-in datasource bucketing (in-memory catalog +
  * parquet — no Hive needed). Bucket counts must match on both sides
  * (Spark also joins k·n vs n buckets, but identical counts avoid the
  * bucket-coalescing read amplification).
  */
object Bucketing {

  /** Write `df` as a bucketed+sorted parquet table `name` (overwrite).
    * Drops any prior table AND its on-disk location first: with the
    * in-memory catalog a previous JVM's managed-table directory survives
    * in the warehouse while the catalog entry does not, and saveAsTable
    * refuses the orphaned location (LOCATION_ALREADY_EXISTS). The
    * recursive location delete is scoped to `warehouse/<name>` — callers
    * must treat bucketed-table names as owned by this helper (the
    * [[bucketedJoin]] defaults are suffixed with the Spark application
    * id precisely so two sessions sharing a warehouse cannot race on,
    * or destroy, each other's directories). */
  def writeBucketed(df: DataFrame, name: String, key: String,
      buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), name.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(name)
  }

  /** [[writeBucketed]]'s orphaned-location cleanup for a PLAIN (non-
    * bucketed) managed table — side tables like the search index's
    * additive stats need the same prior-JVM-leftover handling. */
  def writeTable(df: DataFrame, name: String): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), name.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(name)
  }

  /** Append rows to a plain (non-bucketed) managed table — every
    * side-table append in the index family (BM25 `_docs`/`_stats`,
    * `_del`) goes through here. */
  def appendTable(df: DataFrame, name: String): Unit =
    df.write.mode(SaveMode.Append).format("parquet").saveAsTable(name)

  // ---- compact staging (r18: crash-convergent compaction) ------------
  // Compaction is the one lifecycle op that REWRITES files, and before
  // r18 it did so destructively: the live rows were materialized into
  // block-manager memory (localCheckpoint — lost with the JVM, and at
  // 100 TB a compact should not need the index resident in memory at
  // all), then [[writeBucketed]] DROPPED the base and deleted its
  // directory before writing the replacement. A crash in that window
  // destroyed the index outright (the only copy of the live rows died
  // with the process), and a crash between the base rewrite and the
  // `_del` truncate lost re-inserted keys PERMANENTLY on retry: the
  // gen-0 rewritten rows of previously-deleted-then-revived keys read
  // as suppressed under the still-present tombstones, so the retry's
  // live view excluded them. r18 makes every compact CRASH-CONVERGENT
  // with the same single-maintainer retry contract the r17 delete
  // machinery established (retry-after-failure by the same maintainer
  // is INSIDE the contract):
  //
  //   1. the live rows are first written to a DURABLE staging table
  //      (`<name>__compact`) next to the base — an out-of-core
  //      file→file copy, nothing pinned in executor or block-manager
  //      memory — and a protocol-tagged marker file commits the
  //      snapshot atomically;
  //   2. only then do the destructive steps run, in an order where
  //      every crash point rolls FORWARD on retry: `_del` truncates
  //      first (so the staged gen-0 rows can never be suppressed by
  //      leftover tombstones), then the base rewrites FROM THE STAGED
  //      FILES (still on disk whatever died), then the staging drops
  //      (marker first, so a half-deleted staging never reads as
  //      committed).
  //
  // A retry entering compact with a committed marker skips the
  // snapshot and replays step 2 verbatim — idempotent. Because a
  // committed-but-unapplied snapshot goes stale the moment any other
  // lifecycle write lands, [[appendBucketed]] and [[tombstoneAppend]]
  // fail loudly while one is pending (roll it forward first by
  // re-running the named compact); a REBUILD supersedes the pending
  // compact instead — [[initTombstones]], which every index build runs
  // first, discards stale stagings. The marker carries which protocol
  // staged it so a crashed [[tombstoneCompact]] (which must truncate
  // `_del`) cannot be rolled forward by [[compactBucketed]] (which
  // must not).
  private val StagedMarker = "_GRAFT_STAGED"

  /** The staging-table name a compact of `name` snapshots into. */
  private[graft] def compactStagingName(name: String): String =
    name + "__compact"

  private def tableLoc(spark: SparkSession,
      name: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), name.toLowerCase)

  private def locFs(spark: SparkSession, loc: org.apache.hadoop.fs.Path) =
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The protocol tag of a COMMITTED staging snapshot ("tombstone",
    * "layout", "bm25"), or None if no committed snapshot exists. */
  private[graft] def stagedProtocol(spark: SparkSession,
      stagingName: String): Option[String] = {
    val marker = new org.apache.hadoop.fs.Path(
      tableLoc(spark, stagingName), StagedMarker)
    val fs = locFs(spark, marker)
    if (!fs.exists(marker)) None
    else {
      val in = fs.open(marker)
      try {
        val buf = new Array[Byte](64)
        val n = math.max(0, in.read(buf))
        Some(new String(buf, 0, n,
          java.nio.charset.StandardCharsets.UTF_8).trim)
      } finally in.close()
    }
  }

  /** Atomically commit a freshly written staging snapshot: one tiny
    * marker file inside the staging directory (underscore-prefixed, so
    * parquet readers ignore it). Until the marker exists the staging
    * is garbage and a fresh compact overwrites it. */
  private[graft] def commitStaging(spark: SparkSession, stagingName: String,
      protocol: String): Unit = {
    val marker = new org.apache.hadoop.fs.Path(
      tableLoc(spark, stagingName), StagedMarker)
    val out = locFs(spark, marker).create(marker, true)
    try out.write(protocol.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Remove a staging snapshot: MARKER FIRST (atomic retract — a crash
    * mid-cleanup must not leave a half-deleted directory that still
    * reads as committed), then the catalog entry and directory. */
  private[graft] def dropStaging(spark: SparkSession,
      stagingName: String): Unit = {
    val loc = tableLoc(spark, stagingName)
    val fs = locFs(spark, loc)
    val marker = new org.apache.hadoop.fs.Path(loc, StagedMarker)
    if (fs.exists(marker)) fs.delete(marker, false)
    spark.sql(s"DROP TABLE IF EXISTS `$stagingName`")
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** The rows of a committed staging snapshot — through the catalog
    * when this process wrote it, from the parquet files when a
    * restarted process (with a persistent metastore or after
    * re-registration) rolls the compact forward. */
  private[graft] def stagingRows(spark: SparkSession,
      stagingName: String): DataFrame =
    if (spark.catalog.tableExists(stagingName)) spark.table(stagingName)
    else spark.read.parquet(tableLoc(spark, stagingName).toString)

  /** Loud stale-snapshot guard for lifecycle WRITES: a committed
    * staging snapshot captures the live view as of its compact's start,
    * so any append or delete landing before the roll-forward completes
    * would be silently erased when the staged rows replace the base.
    * Refuse instead, naming the remedy. */
  private[graft] def assertNoPendingCompact(spark: SparkSession,
      tableName: String, op: String): Unit =
    stagedProtocol(spark, compactStagingName(tableName)).foreach { p =>
      val entry = p match {
        case "layout" => "compactBucketed"
        case "bm25" => "searchIndexCompact"
        case _ => "tombstoneCompact (or the index family's compact)"
      }
      throw new IllegalStateException(
        s"$op($tableName): a crashed compact left a committed staging " +
          s"snapshot (${compactStagingName(tableName)}) — roll it " +
          s"forward to completion first by re-running $entry, or " +
          "rebuild the index (which discards the pending compact); " +
          "writing now would be silently erased when the staged rows " +
          "replace the base (single-maintainer contract, see " +
          "graft.ops.Bucketing)")
    }

  /** Append rows to an existing bucketed table written by
    * [[writeBucketed]] (same key + bucket count — Spark validates the
    * spec matches). Each append adds one file per non-empty bucket;
    * reads stay `Bucketed: true` with the partitioning intact, so
    * downstream co-located joins keep their zero-Exchange shape. This is
    * the incremental-maintenance path for persisted ANN indexes
    * ([[Similarity.lshIndexBuild]]/ivfIndexBuild): new corpus batches
    * append their signatures instead of rebuilding the index — at 100 TB
    * a rebuild rewrites everything, an append writes only the delta.
    * (Periodic compaction = one [[writeBucketed]] over the table when
    * per-bucket file counts grow.) */
  def appendBucketed(df: DataFrame, name: String, key: String,
      buckets: Int): Unit = {
    assertNoPendingCompact(df.sparkSession, name, "appendBucketed")
    df.write.mode(SaveMode.Append)
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(name)
  }

  /** Rewrite a bucketed table in place, collapsing the one-file-per-
    * append accumulation of [[appendBucketed]] back to one file per
    * bucket. Same data, same layout contract, minimal file count — run
    * it when per-bucket file counts degrade scan/merge performance
    * (each bucket file is a separate sorted run for the SMJ reader).
    * Returns the row count rewritten.
    *
    * CRASH-CONVERGENT (r18 — see the staging section above): the rows
    * are copied to a durable staging table first, then the base
    * rewrites from the staged files — an out-of-core file→file copy
    * (the pre-r18 localCheckpoint held the whole table in
    * block-manager memory, and a crash between the base DROP and the
    * rewrite destroyed the table: the only copy died with the JVM).
    * Retrying after a failure rolls the staged snapshot forward. */
  def compactBucketed(spark: SparkSession, name: String, key: String,
      buckets: Int): Long = {
    val stg = compactStagingName(name)
    stagedProtocol(spark, stg) match {
      case None =>
        // the staging is a PLAIN table (see [[stageTombstoneCompact]] —
        // a bucketed staging would let the planner elide the rewrite's
        // repartition and fragment the layout)
        writeTable(spark.table(name), stg)
        commitStaging(spark, stg, "layout")
      case Some("layout") => System.err.println(
        s"[graft] $name: rolling forward a previously staged compact")
      case Some(other) => throw new IllegalStateException(
        s"compactBucketed($name): the pending staging snapshot was " +
          s"written by the '$other' protocol — roll it forward with the " +
          "compact that staged it (tombstoneCompact / the index " +
          "family's compact) or rebuild the table")
    }
    writeBucketed(
      stagingRows(spark, stg)
        .repartition(buckets, org.apache.spark.sql.functions.col(key)),
      name, key, buckets)
    val n = spark.table(name).count()
    dropStaging(spark, stg)
    n
  }

  // STREAMS LIST THE INDEX FILES EVERY MICRO-BATCH: the tables a
  // streaming probe joins statically are read through [[listedTable]],
  // whose V1 relation keeps the catalog's bucket spec (the scan stays
  // `Bucketed: true`, no index-side Exchange) but lists the table
  // directory each time a micro-batch is planned. Every append, delete
  // and re-insert is therefore visible from the next micro-batch on
  // (StaticRefreshSpec, StreamingSpec). A micro-batch planned while an
  // append's job is committing its files may see part of that append;
  // the next micro-batch sees all of it. A plain `spark.table` relation
  // instead keeps the listing it was resolved with: a running stream
  // over it sees only the first write after its start (StaticRefreshSpec
  // pins that too). Compact rewrites files and stays restart-fenced
  // ([[maintainIfAdvised]]).
  //
  // SINGLE-MAINTAINER CONTRACT (r17, pinned in LayoutBucketingSpec):
  // every MUTATING lifecycle op — build, append, delete, compact —
  // assumes ONE maintainer process per index at a time, the industry
  // norm for index maintenance. [[currentGen]] is read-then-append with
  // no coordination BY DESIGN: two concurrent [[tombstoneAppend]]s would
  // read the same generation and stamp the SAME sequence, and an append
  // racing a delete gets an ordering neither caller chose — both are
  // OUTSIDE the contract, not failure modes within it.
  // Retry-after-failure by the same maintainer is INSIDE the contract,
  // and as of r18 EVERY multi-write lifecycle op honors it: the BM25
  // delete via its seq-stamped retraction
  // ([[graft.ops.TfIdf.searchIndexDelete]], r17), the BM25 append via
  // its pending-marker file + gen-salted batch digest
  // ([[graft.ops.TfIdf.searchIndexAppend]]), and every compact via the
  // durable staged roll-forward protocol (the staging section above) —
  // single-table appends and builds were always atomic-at-job-commit /
  // overwrite-idempotent respectively. Concurrent READERS — probes and
  // streams — are unrestricted: every op short of compact is a pure
  // append, and compact is restart-fenced. Cross-SESSION isolation (two
  // apps, two different indexes, one warehouse) is separately guaranteed
  // by the app-id-suffixed staging names in [[bucketedJoin]].
  //
  // ---- tombstone lifecycle (r15; generation-stamped r16) -------------
  // Shared by every persisted index that supports retraction (the
  // fingerprint dedup index keyed by `fp`, the LSH/IVFADC indexes keyed
  // by `n_id`, the entity-resolution catalog keyed by `c_id`, the BM25
  // posting index keyed by `doc_id`): deletes accumulate as
  // (key, seq) rows in a SMALL append-only `<table>_del` side table,
  // index rows carry the [[GenCol]] generation they were written under,
  // and a row is LIVE iff its generation is at least the key's latest
  // delete sequence ([[liveView]]). Every lifecycle operation except
  // [[tombstoneCompact]] is a pure file APPEND — nothing ever rewrites
  // a table a running streaming probe may have planned in (the r15
  // clearTombstones rewrite-under-a-live-stream hazard is gone: a
  // re-insert is just an append at a generation past the delete, so no
  // "clear" operation exists at all). The per-row generation also keeps
  // delete → re-insert exact: the STALE pre-delete rows of a
  // re-inserted key stay suppressed (their generation predates the
  // delete), so the live view holds exactly the post-delete state — a
  // latest-op-wins key log would resurrect them alongside the fresh
  // row (r15 ADVICE).
  //
  // ONE DRIVER READ PER BATCH CALL, A LISTED VIEW PER STREAM: a batch
  // BM25 or IVFADC call (probe, append, delete, compact) reads `_del`
  // — and BM25's `_stats` — ONCE, in the calling thread and with no
  // Spark job ([[readLifecycle]]: the files a `spark.table` scan would
  // read, decoded by Spark's own parquet reader), and plans the rest of
  // the call against that read: tombstones become a filter over a
  // broadcast key map ([[liveViewAt]], no filter at all when nothing is
  // deleted), the generation and corpus sums become literals. Each
  // per-use aggregate of the same fact would be a Spark job of its own,
  // and on sub-second calls per-job coordination, not compute, is the
  // latency; so is the read job itself, and a broadcast local relation
  // (a job too). [[currentGen]] is the same read's generation, so the
  // appends and deletes of every family stamp rows without a job.
  // Streaming constructors (`TfIdf.searchScoreStream`,
  // `Similarity.ivfPqMatchStream`, the Dedup and Linkage streams) keep
  // the table-backed [[liveView]]: its `_del` scan is listed every
  // micro-batch, so a delete that lands after the stream started still
  // suppresses rows, where a driver-side read taken when the stream was
  // defined would freeze its tombstones for the stream's life. The two
  // are one liveness rule over two sources, not two paths for the same
  // job.

  /** The generation column stamped onto tombstone-capable index rows —
    * see [[withGen]] / [[currentGen]]. [[liveView]] consumes and drops
    * it, so probe schemas never see it. */
  val GenCol = "_gen"

  /** Observed-metric name prefix for tombstone visibility: every
    * [[liveView]] probe against a non-empty delete table, and every
    * [[liveViewAt]] probe with tombstones ([[tombstoneGauge]]), reports
    * its tombstoned-key count (`n_tombstoned_keys`) AND a
    * `compact_advised` boolean (r17 — count ≥ [[compactThreshold]]), so
    * an uncompacted delete set growing toward broadcast pain surfaces
    * as an explicit "compact me" long before the SFs any oracle checks
    * (the maxBucket-drop pattern). Absent == zero/false: AQE's
    * empty-relation propagation prunes the observe node with the empty
    * broadcast side. Bench aggregates per query. */
  val TombstoneMetricPrefix = "graft_tombstone_keys/"

  /** Session conf key for the `compact_advised` threshold: the
    * tombstoned-KEY count at which probes start advising
    * [[tombstoneCompact]]. The cost an uncompacted delete set adds to
    * every probe is the broadcast of its distinct keys — an absolute
    * key budget, independent of live index size, is therefore the
    * honest knob (the default ~1e6 keys ≈ tens of MB broadcast, well
    * inside executor comfort but big enough to be worth folding). */
  val CompactThresholdConf = "spark.graft.tombstone.compactThreshold"

  private def compactThreshold(spark: SparkSession): Long =
    spark.conf.getOption(CompactThresholdConf).map { v =>
      // name the conf key on a malformed value: a bare
      // NumberFormatException surfacing from inside every liveView plan
      // construction points nowhere (r17 ADVICE)
      try v.trim.toLong
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"$CompactThresholdConf must be a long tombstoned-key count, " +
            s"got '$v'")
      }
    }.getOrElse(1000000L)

  private val tombObsId = new java.util.concurrent.atomic.AtomicLong()

  /** Stamp `df` with the generation its rows are written under: 0 at
    * build time, [[currentGen]] at append time (an append's rows must
    * outlive every delete issued before the append — and no delete
    * issued after it, which [[tombstoneAppend]] guarantees by stamping
    * deletes one PAST the current generation). */
  def withGen(df: DataFrame, gen: Long): DataFrame =
    df.withColumn(GenCol, org.apache.spark.sql.functions.lit(gen))

  /** The index's current generation = latest delete sequence in its
    * `_del` table (0 when nothing was ever deleted), from the driver-side
    * [[readLifecycle]] read: no Spark job. Index APPENDS read it to stamp
    * their rows, deletes to claim the next sequence. */
  def currentGen(spark: SparkSession, tableName: String): Long =
    readLifecycle(spark, tableName, withStats = false).gen

  /** What a BATCH call knows about a tombstoned index's small side
    * tables, from ONE driver read ([[readLifecycle]]): the generation
    * (latest `_del` sequence, 0 when nothing was ever deleted), the
    * per-key latest delete sequence, and — for an index with an additive
    * `<table>_stats` log (BM25) — the (seq, del_sig) bookkeeping log and
    * the summed corpus stats. `keyField` is the `_del` key column, the
    * schema of any tombstone rows the call builds locally. */
  final case class Lifecycle(gen: Long, tombstones: Map[Any, Long],
      keyField: StructField, book: Array[(Long, Long)], nDocs: Long,
      totalDl: Long)

  /** Read `<table>_del` (and, with `withStats`, `<table>_stats`) once,
    * in the calling thread and without a Spark job: the files a
    * `spark.table` scan would read, decoded by Spark's own parquet reader
    * ([[org.apache.spark.sql.graftshim.ListedTable.onDriver]], which
    * decodes each committed file once and keeps its rows), folded
    * into the generation, tombstone map, bookkeeping log and corpus sums
    * (see "one read per batch call" above). The corpus sums use
    * `Math.addExact`, so an overflow throws as an ANSI `sum` would. A
    * `_stats` table persisted before the bookkeeping columns reads them
    * as 0 (additive rows, see `TfIdf.ensureStatsSchema`); a NULL
    * `n_docs` or `total_dl` is skipped, as SQL `sum` skips it. A file
    * that cannot be decoded, or a NULL or non-integral `seq`/`del_sig`,
    * fails the call here, on the driver, naming the table. Both tables
    * are small by contract (fold `_del` with [[tombstoneCompact]];
    * `_stats` holds one row per lifecycle op). */
  def readLifecycle(spark: SparkSession, tableName: String,
      withStats: Boolean): Lifecycle = {
    import org.apache.spark.sql.graftshim.ListedTable
    def long(t: String, c: String, v: Any): Long = v match {
      case l: Long => l
      case i: Int => i.toLong
      case s: Short => s.toLong
      case b: Byte => b.toLong
      case null => throw new IllegalStateException(s"$t: NULL $c")
      case o => throw new IllegalStateException(
        s"$t: $c holds a ${o.getClass.getSimpleName}, not an integer")
    }
    val delT = tableName + "_del"
    var gen = 0L
    val tomb = scala.collection.mutable.HashMap.empty[Any, Long]
    val keyField = if (!ListedTable.exists(spark, delT)) StructField("key", LongType)
      else {
        val del = ListedTable.onDriver(spark, delT)
        val seqAt = del.schema.fieldIndex("seq")
        del.rows.foreach { r =>
          val seq = long(delT, "seq", r.get(seqAt))
          gen = math.max(gen, seq)
          val k = r.get(0)
          if (tomb.get(k).forall(_ < seq)) tomb(k) = seq
        }
        del.schema.head
      }
    var nDocs = 0L
    var totalDl = 0L
    val book = Array.newBuilder[(Long, Long)]
    if (withStats) {
      val statsT = tableName + "_stats"
      val st = ListedTable.onDriver(spark, statsT)
      def at(c: String) = Some(st.schema.fieldNames.indexOf(c)).filter(_ >= 0)
      val (n, t, seq, sig) = (st.schema.fieldIndex("n_docs"),
        st.schema.fieldIndex("total_dl"), at("seq"), at("del_sig"))
      // a legacy `_stats` table (no bookkeeping columns) holds additive
      // rows only: seq = del_sig = 0
      def orZero(i: Option[Int], c: String, r: Row) =
        i.fold(0L)(j => long(statsT, c, r.get(j)))
      st.rows.foreach { r =>
        book += ((orZero(seq, "seq", r), orZero(sig, "del_sig", r)))
        if (!r.isNullAt(n))
          nDocs = Math.addExact(nDocs, long(statsT, "n_docs", r.get(n)))
        if (!r.isNullAt(t))
          totalDl = Math.addExact(totalDl, long(statsT, "total_dl", r.get(t)))
      }
    }
    Lifecycle(gen, tomb.toMap, keyField, book.result(), nDocs, totalDl)
  }

  /** The LIVE rows of `base` under the tombstones of one [[readLifecycle]]
    * read: a filter over (key, [[GenCol]]) that looks the key up in the
    * read's tombstone map (the [[liveView]] rule: a row survives iff its
    * key is not tombstoned, or its generation is at least the key's
    * latest delete sequence). The map reaches executors as a
    * `SparkContext.broadcast` variable, which starts no job, and sits in
    * the plan as a referenced object, so task binaries and generated code
    * stay the same size and text at any key count. An index with no
    * tombstones gets no filter at all. Pair it with [[tombstoneGauge]] on
    * the probe's result. For BATCH calls only: a streaming query must
    * keep the table-backed [[liveView]], whose `_del` scan is listed per
    * micro-batch, or it would never see a delete issued after it
    * started. */
  def liveViewAt(base: DataFrame, lc: Lifecycle, keyCol: String): DataFrame =
    if (lc.tombstones.isEmpty) base.drop(GenCol)
    else {
      import org.apache.spark.sql.GraftShims
      import org.apache.spark.sql.catalyst.analysis.{TypeCoercion, UnresolvedAttribute}
      import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
      // keys compare in the wider of the two key types, as the join
      // keys of an equi-join would (an Int index key against Long
      // tombstones must still match)
      val (baseT, delT) = (base.schema(keyCol).dataType, lc.keyField.dataType)
      val kt = TypeCoercion.findWiderTypeForTwo(baseT, delT).getOrElse(
        throw new IllegalArgumentException(s"liveViewAt: key column " +
          s"$keyCol is $baseT, the tombstone keys are $delT"))
      val toCatalyst = GraftShims.toCatalyst(delT)
      val toKey: Any => Any =
        if (kt == delT) toCatalyst
        else k => Cast(Literal(toCatalyst(k), delT), kt).eval()
      val seqs = new java.util.HashMap[Any, java.lang.Long](
        lc.tombstones.size * 2)
      lc.tombstones.foreach { case (k, s) => seqs.put(toKey(k), s) }
      val key = UnresolvedAttribute.quoted(keyCol)
      val gen = if (base.columns.contains(GenCol)) UnresolvedAttribute(GenCol)
        else Literal(0L)
      base.filter(GraftShims.column(TombstoneLive(
          if (kt == baseT) key else Cast(key, kt), gen,
          base.sparkSession.sparkContext.broadcast(seqs))))
        .drop(GenCol)
    }

  /** The [[TombstoneMetricPrefix]] gauge of a [[liveViewAt]] probe: an
    * `observe` of the read's tombstoned-key count (known on the driver)
    * on the probe's own result, so the metric costs no job and blocks no
    * filter pushdown into the index scan. No gauge when nothing is
    * deleted (absent == zero, as for [[liveView]]). */
  def tombstoneGauge(df: DataFrame, lc: Lifecycle): DataFrame =
    if (lc.tombstones.isEmpty) df
    else gauge(df, org.apache.spark.sql.functions.lit(lc.tombstones.size.toLong))

  /** Observe the [[TombstoneMetricPrefix]] columns of tombstoned-key
    * count `n`, under a name unique to this call. */
  private def gauge(df: DataFrame,
      n: org.apache.spark.sql.Column): DataFrame =
    df.observe(TombstoneMetricPrefix + tombObsId.incrementAndGet(),
      n.as("n_tombstoned_keys"),
      (n >= compactThreshold(df.sparkSession)).as("compact_advised"))

  /** Create an EMPTY tombstone table alongside a fresh index build.
    * Always materializing it (rather than creating lazily on the first
    * delete) is load-bearing for STREAMING probes: a stream plans the
    * [[liveView]] join at definition time, so the `_del` table must
    * exist then for a later mid-stream delete to take effect — appends
    * to an existing static table are listed per micro-batch, but a
    * table that appears mid-stream is not in the plan at all. Also
    * discards any stale
    * tombstones of a previous same-name index. */
  def initTombstones(keySchema: DataFrame, keyCol: String,
      tableName: String): Unit = {
    // a REBUILD supersedes any pending (crashed) compact of the same
    // index: discard committed-but-unapplied staging snapshots, or a
    // later compact would roll the pre-rebuild rows forward over the
    // fresh build (r18 — the staging contract's escape hatch)
    val spark = keySchema.sparkSession
    Seq("__compact", "__compact_docs", "__compact_stats")
      .foreach(s => dropStaging(spark, tableName + s))
    truncateTombstones(keySchema, keyCol, tableName)
  }

  /** The truncate half of [[initTombstones]] — used directly by
    * [[tombstoneCompact]]'s commit path, which must NOT clear the
    * staging snapshot it is itself reading from. */
  private[graft] def truncateTombstones(keySchema: DataFrame,
      keyCol: String, tableName: String): Unit =
    // eager: [[tombstoneCompact]] truncates by passing the _del table
    // itself as the schema source — materialize the empty result before
    // writeTable drops the table the plan reads
    writeTable(
      keySchema.select(keyCol).limit(0)
        .withColumn("seq", org.apache.spark.sql.functions.lit(0L))
        .localCheckpoint(true),
      tableName + "_del")

  /** Append retracted keys to the tombstone table at the NEXT delete
    * sequence (created if a legacy index predates [[initTombstones]] —
    * such an index's rows have no [[GenCol]] and read as generation 0,
    * i.e. every delete suppresses them, the r15 anti-join semantics).
    * Within-batch duplicates are collapsed; re-deleting an
    * already-tombstoned key appends one fresh (key, seq) row — the
    * delete table stays delete-volume-sized and [[liveView]] folds to
    * one broadcast key either way. */
  def tombstoneAppend(delKeys: DataFrame, keyCol: String,
      tableName: String): Unit = {
    import org.apache.spark.sql.functions.lit
    val spark = delKeys.sparkSession
    assertNoPendingCompact(spark, tableName, "tombstoneAppend")
    val seq = currentGen(spark, tableName) + 1L
    // eager: the caller may derive the delete set from the index itself
    writeTombstones(delKeys.select(keyCol).distinct()
      .withColumn("seq", lit(seq)).localCheckpoint(true), tableName)
  }

  /** [[tombstoneAppend]] of a DISTINCT key set the caller already holds
    * on the driver, at a sequence the caller pre-claimed (generation + 1)
    * and stamped on its other side tables before the tombstones land —
    * the retry-detection handle of a multi-table delete
    * ([[graft.ops.TfIdf.searchIndexDelete]]: the stats retraction row
    * carries the seq, so a retry after a partial failure can tell an
    * applied retraction from a missing one). The rows are written from a
    * local relation of `keyField`-typed keys: no distinct, no
    * checkpoint. */
  private[ops] def tombstoneAppendKeys(spark: SparkSession,
      keys: Iterable[Any], keyField: StructField, tableName: String,
      seq: Long): Unit = {
    assertNoPendingCompact(spark, tableName, "tombstoneAppend")
    val rows = new java.util.ArrayList[Row]()
    keys.foreach(k => rows.add(Row(k, seq)))
    writeTombstones(spark.createDataFrame(rows, StructType(Seq(keyField,
      StructField("seq", LongType, nullable = false)))), tableName)
  }

  private def writeTombstones(del: DataFrame, tableName: String): Unit =
    if (del.sparkSession.catalog.tableExists(tableName + "_del"))
      appendTable(del, tableName + "_del")
    else writeTable(del, tableName + "_del")

  /** The LIVE rows of a tombstoned index: base rows whose generation is
    * at least their key's latest delete sequence (rows of never-deleted
    * keys pass through). The delete side is broadcast (small by
    * contract — fold with [[tombstoneCompact]] before it grows, and
    * watch the [[TombstoneMetricPrefix]] observed metric); a broadcast
    * left join preserves the base scan's bucketed partitioning, so
    * probes keep their zero-index-Exchange shape, and AQE's
    * empty-relation propagation removes the join entirely when nothing
    * is deleted. Indexes with no tombstone table read through
    * unchanged. The [[GenCol]] bookkeeping column is dropped either
    * way — downstream probe schemas are generation-free. */
  def liveView(spark: SparkSession, tableName: String,
      keyCol: String): DataFrame =
    liveViewOf(listedTable(spark, tableName), spark, tableName + "_del",
      keyCol)

  /** [[liveView]] for a base DataFrame that is not `spark.table(name)`
    * of the delete table's own index — side tables sharing the index's
    * `_del` (e.g. the BM25 `_docs` doc-length table) filter through the
    * same tombstones. */
  def liveViewOf(base: DataFrame, spark: SparkSession, delTable: String,
      keyCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, count, lit, max}
    if (!spark.catalog.tableExists(delTable)) base.drop(GenCol)
    else {
      val del = gauge(listedTable(spark, delTable)
        .groupBy(keyCol).agg(max("seq").as("_del_seq")), count(lit(1)))
      val gen = if (base.columns.contains(GenCol)) col(GenCol) else lit(0L)
      base.join(broadcast(del), Seq(keyCol), "left")
        .filter(col("_del_seq").isNull || gen >= col("_del_seq"))
        .drop("_del_seq").drop(GenCol)
    }
  }

  /** `spark.table(name)` for the static side of a stream: the same V1
    * bucketed relation, except that its files are listed each time a
    * query over it is planned: every micro-batch of a stream sees the
    * table's current files (see "streams list the index files every
    * micro-batch" above). */
  def listedTable(spark: SparkSession, name: String): DataFrame =
    org.apache.spark.sql.graftshim.ListedTable.read(spark, name)

  /** Fold tombstones into the base: rewrite the index to its live rows
    * at generation 0 (one file per bucket, the [[compactBucketed]]
    * layout contract) and truncate the tombstone table — truncate, NOT
    * drop, so streams that planned the [[liveView]] join keep a valid
    * (empty) table to list; generation and sequence reset
    * together, so liveness is unchanged by construction. The ONLY
    * lifecycle op that rewrites files — run it without a live stream
    * over the same index (the [[compactBucketed]] rule). Returns the
    * live row count.
    *
    * CRASH-CONVERGENT (r18 — see the staging section above): the live
    * rows land in a durable staging snapshot before anything
    * destructive runs, `_del` truncates BEFORE the base rewrite (staged
    * rows are generation 0 — leftover tombstones would suppress
    * re-inserted keys), and the base rewrites from the staged FILES.
    * Retrying after a failure at any point rolls the staged snapshot
    * forward; nothing is ever held only in process memory. */
  def tombstoneCompact(spark: SparkSession, tableName: String,
      keyCol: String, bucketKey: String, buckets: Int): Long = {
    val stg = compactStagingName(tableName)
    stagedProtocol(spark, stg) match {
      case None => stageTombstoneCompact(spark, tableName, keyCol)
      case Some("tombstone") => System.err.println(
        s"[graft] $tableName: rolling forward a previously staged compact")
      case Some(other) => throw new IllegalStateException(
        s"tombstoneCompact($tableName): the pending staging snapshot " +
          s"was written by the '$other' protocol — roll it forward with " +
          "the compact that staged it (compactBucketed for 'layout', " +
          "searchIndexCompact for 'bm25') or rebuild the index")
    }
    // COMMIT — every step idempotent from here, replayed verbatim by a
    // retry: truncate the tombstones FIRST, then rewrite the base from
    // the durable staging. The truncate's schema source falls back to
    // the staging when `_del` is missing (a retry after a crash inside
    // a previous truncate's drop-then-write — the table must come back:
    // eager `_del` existence is load-bearing for streaming probes).
    val delSrc = if (spark.catalog.tableExists(tableName + "_del"))
      spark.table(tableName + "_del") else stagingRows(spark, stg)
    truncateTombstones(delSrc, keyCol, tableName)
    writeBucketed(
      stagingRows(spark, stg)
        .repartition(buckets, org.apache.spark.sql.functions.col(bucketKey)),
      tableName, bucketKey, buckets)
    val n = spark.table(tableName).count()
    dropStaging(spark, stg)
    n
  }

  /** The snapshot half of [[tombstoneCompact]]: write the live view to
    * the durable staging table and commit the marker. The staging is a
    * PLAIN parquet table, deliberately not bucketed: a bucketed
    * staging's bucket spec lets the planner elide the final rewrite's
    * repartition while bin-packing the actual scan — mixed-bucket write
    * tasks, fragmenting the one-file-per-bucket layout contract. A
    * plain staging forces the real shuffle on the rewrite.
    * Package-visible so LifecycleRecoverySpec can replay the crash
    * window between the snapshot and the commit steps. */
  private[graft] def stageTombstoneCompact(spark: SparkSession,
      tableName: String, keyCol: String): Unit = {
    val stg = compactStagingName(tableName)
    writeTable(withGen(liveView(spark, tableName, keyCol), 0L), stg)
    commitStaging(spark, stg, "tombstone")
  }

  /** Advise→act (r18 — the r17 verdict's item 4): run
    * [[tombstoneCompact]] iff the index's tombstoned-key count has
    * crossed [[CompactThresholdConf]] — the same predicate
    * [[liveView]] reports as the `compact_advised` observed metric, so
    * a maintenance job can close the advisory loop with one call
    * instead of scraping metrics. Returns Some(live row count) when it
    * compacted, None when compaction is not (yet) advised. A pending
    * crashed compact (committed staging snapshot — r18) outranks the
    * threshold: the call rolls it forward regardless of the tombstone
    * count, since lifecycle writes are refusing until it completes.
    *
    * Restart-fenced like compact itself, but ENFORCED rather than
    * documented: compaction is the one lifecycle op that rewrites
    * files, so the call refuses loudly if any live streaming query in
    * this session has one of the index's family tables in its ANALYZED
    * PLAN (inspected via the graftshim — precise, so the normal
    * topology of many streams over many indexes is not blocked by an
    * unrelated stream; a query whose plan cannot be inspected counts
    * as offending, conservatively). Streams in OTHER processes are
    * outside this fence and covered by the single-maintainer contract
    * above, exactly as for a manual [[tombstoneCompact]].
    *
    * Indexes whose compact must ALSO fold side tables pass their
    * family compact via `compact` (e.g.
    * `Some(() => TfIdf.searchIndexCompact(spark, name, buckets))` — a
    * bare [[tombstoneCompact]] on a BM25 index would truncate `_del`
    * while `_docs` still holds dead rows, resurrecting them); the
    * default runs [[tombstoneCompact]], correct for every
    * single-base-table index (fingerprint / LSH / IVFADC / catalog). */
  def maintainIfAdvised(spark: SparkSession, tableName: String,
      keyCol: String, bucketKey: String, buckets: Int,
      compact: Option[() => Long] = None): Option[Long] = {
    // a committed-but-unapplied staging snapshot (crashed compact)
    // outranks the threshold: appends and deletes are refusing until it
    // rolls forward, so "maintenance" means finishing it regardless of
    // the current tombstone count (r18)
    val pendingRollForward = Seq("", "_docs", "_stats")
      .exists(s => stagedProtocol(spark, tableName + "__compact" + s).isDefined)
    if (!pendingRollForward &&
      !spark.catalog.tableExists(tableName + "_del")) return None
    val keys = readLifecycle(spark, tableName, withStats = false)
      .tombstones.size.toLong
    if (keys < compactThreshold(spark) && !pendingRollForward) None
    else {
      val family = Seq("", "_del", "_docs", "_stats", "_meta")
        .map(s => (tableName + s).toLowerCase).toSet
      val offending = spark.streams.active.filter { q =>
        org.apache.spark.sql.graftshim.StreamPlans.staticTables(q)
          .map(_.exists(family)).getOrElse(true) // uninspectable: assume the worst
      }
      if (offending.nonEmpty)
        throw new IllegalStateException(
          s"maintainIfAdvised($tableName): compaction is " +
            (if (pendingRollForward)
              "pending roll-forward (a crashed compact left a committed " +
                "staging snapshot) but "
            else
              s"advised ($keys tombstoned keys ≥ " +
                s"${compactThreshold(spark)}) but ") +
            s"${offending.length} live streaming " +
            s"quer${if (offending.length == 1) "y has" else "ies have"} " +
            "this index family in their plan " +
            s"(${offending.map(q => Option(q.name).getOrElse(q.id.toString)).mkString(", ")}) — " +
            "compact rewrites index files, which would fail those " +
            "probes mid-stream. Stop them, compact, restart.")
      Some(compact.map(_.apply()).getOrElse(
        tombstoneCompact(spark, tableName, keyCol, bucketKey, buckets)))
    }
  }

  /** Bucket both inputs by the join key, then inner-join the bucketed
    * tables. The join itself is shuffle-free (zero Exchange — pinned in
    * PlanShapeSpec); with `sortBy` it is merge-ready too. Result multiset
    * is identical to `left.join(right, key)` — the oracle is the plain
    * equi-join.
    */
  def bucketedJoin(spark: SparkSession, left: DataFrame, right: DataFrame,
      key: String, buckets: Int,
      namePrefix: String = ""): DataFrame = {
    // Default prefix is per-application: concurrent sessions sharing one
    // warehouse dir must not DROP + delete each other's staging tables.
    val prefix = if (namePrefix.nonEmpty) namePrefix
      else "graft_bkt_" + spark.sparkContext.applicationId
        .replaceAll("[^A-Za-z0-9_]", "_")
    writeBucketed(left, s"${prefix}_l", key, buckets)
    writeBucketed(right, s"${prefix}_r", key, buckets)
    spark.table(s"${prefix}_l")
      .join(spark.table(s"${prefix}_r"), key)
  }
}

/** graft_live_at(key, gen): [[Bucketing.liveViewAt]]'s liveness test
  * against a broadcast key → latest-delete-sequence map of Catalyst key
  * values. A NULL key is live (a join on it would match no tombstone); a
  * tombstoned key is live iff its generation is non-NULL and at least
  * the key's sequence. Generated code references this object rather
  * than inlining the map, so it is the same text for any tombstone set,
  * and the task binary carries only the broadcast handle. */
private[ops] final case class TombstoneLive(key: Expression, gen: Expression,
    seqs: Broadcast[java.util.HashMap[Any, java.lang.Long]])
    extends BinaryExpression with Predicate {
  override def left: Expression = key
  override def right: Expression = gen
  override def nullable: Boolean = false
  override def prettyName: String = "graft_live_at"
  override def toString: String = s"$prettyName($key, $gen)"

  def live(k: Any, genIsNull: Boolean, g: Long): Boolean = {
    val s = seqs.value.get(k)
    s == null || (!genIsNull && g >= s)
  }

  override def eval(input: InternalRow): Any = {
    val k = key.eval(input)
    k == null || {
      val g = gen.eval(input)
      live(k, g == null, if (g == null) 0L else g.asInstanceOf[Long])
    }
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("liveAt", this, getClass.getName)
    val k = key.genCode(ctx)
    val g = gen.genCode(ctx)
    val boxed = if (CodeGenerator.isPrimitiveType(key.dataType))
        s"${CodeGenerator.boxedType(key.dataType)}.valueOf(${k.value})"
      else k.value.toString
    ev.copy(code = code"""
      ${k.code}
      ${g.code}
      boolean ${ev.value} = ${k.isNull} ||
        $self.live($boxed, ${g.isNull}, ${g.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): TombstoneLive =
    copy(key = newLeft, gen = newRight)
}
