package graft.ops

import graft.core.Transforms
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, GraftShims, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Corpus TF-IDF scoring and keyword extraction (SURVEY.md §2.3 "text
  * analysis" north-star row) — the classic relevance / topicality signal a
  * training-data pipeline uses for keyword tagging, topic balancing, and
  * boilerplate-vs-content weighting.
  *
  * Scale shape (the part that matters at 100 TB):
  *   - the TF half is [[graft.functions.TextFunctions.termCounts]] — a
  *     per-row run-length pass over the sorted token array, so the corpus
  *     is NEVER shuffled by token occurrence (the naive explode+groupBy
  *     (doc, term) shuffles every token in the corpus);
  *   - the DF half aggregates the per-document distinct terms by term with
  *     map-side partial counts — the only full shuffle, and its payload is
  *     distinct (doc, term) pairs, not occurrences;
  *   - the IDF join back onto the TF relation is left to AQE: when the
  *     vocabulary fits (dimension-sized after DF pruning) it broadcasts
  *     and the TF side is never shuffled at all; otherwise it is a plain
  *     shuffle-hash join on term.
  * The corpus count N is a driver-side scalar (one count job), folded into
  * the score as a literal so the scoring stage stays fully codegen'd.
  */
object TfIdf {

  /** Corpus document frequencies: one row per distinct term with the
    * number of documents containing it. One shuffle, map-side combined. */
  def documentFrequencies(df: DataFrame, textCol: String): DataFrame =
    Transforms.materialized(df.select(col(textCol)), "_tc",
        termCounts(col(textCol)))
      .select(explode(col("_tc.term")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df_t"))

  /** Per-(document, term) TF-IDF: (idCol, term, cnt, tfidf) with
    * tfidf = cnt · ln(N / df_term). Documents too short to tokenize
    * contribute their empty-string token like every other term (keeps the
    * DuckDB oracle twin exact). */
  def tfIdf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val nDocs = df.count().toDouble
    val tf = Transforms.materialized(df.select(col(idCol), col(textCol)), "_tc",
        termCounts(col(textCol)))
      .select(col(idCol), explode(col("_tc")).as("_p"))
      .select(col(idCol), col("_p.term").as("term"),
        col("_p.cnt").cast("long").as("cnt"))
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df_t"))
    tf.join(dft, "term")
      .select(col(idCol), col("term"), col("cnt"),
        (col("cnt") * log(lit(nDocs) / col("df_t"))).as("tfidf"))
  }

  /** Okapi BM25 relevance of every document against a fixed query-term
    * set — the classic retrieval scorer (keyword search over a corpus,
    * and the usual first-stage ranker in front of embedding re-rank).
    * Output: one row per document containing ≥1 query term, with
    * `score` = Σ_t idf_t · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) and
    * `n_terms` = distinct query terms matched. idf is the
    * ln(1 + (N−df+0.5)/(df+0.5)) form (always positive).
    *
    * Scale shape: term counts come from the zero-shuffle run-length
    * kernel; the query-term filter runs INSIDE the counts array before
    * explode, so the exploded relation is ≤ |queryTerms| rows per doc;
    * df_t is ≤ |queryTerms| rows and broadcast back. N and avgdl are
    * driver scalars folded in as literals — the scoring stage stays
    * fully codegen'd, and no shuffle ever carries the corpus. */
  def bm25(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val n = df.count().toDouble
    val avgdl = df.select(avg(size(tokens(col(textCol)))).as("a"))
      .first().getDouble(0)
    val qlit = typedLit(queryTerms)
    val tf = Transforms.materialized(
        df.select(col(idCol), col(textCol)), "_tc",
        termCounts(col(textCol)))
      .select(col(idCol),
        aggregate(col("_tc"), lit(0L), (a, p) => a + p.getField("cnt"))
          .cast("double").as("dl"),
        explode(filter(col("_tc"),
          p => array_contains(qlit, p.getField("term")))).as("_p"))
      .select(col(idCol), col("dl"), col("_p.term").as("term"),
        col("_p.cnt").cast("double").as("cnt"))
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df_t"))
    val idf = log(lit(1.0) +
      (lit(n) - col("df_t") + 0.5) / (col("df_t") + 0.5))
    tf.join(broadcast(dft), "term")
      .withColumn("_s", idf * col("cnt") * (lit(k1) + 1.0) /
        (col("cnt") + lit(k1) *
          (lit(1.0) - lit(b) + lit(b) * col("dl") / lit(avgdl))))
      .groupBy(idCol)
      .agg(sum("_s").as("score"), count(lit(1)).as("n_terms"))
  }

  /** Build a PERSISTED inverted (posting-list) index for [[bm25]]
    * retrieval — the text-search analog of the persisted ANN indexes
    * ([[Similarity.lshIndexBuild]]) and the dedup fingerprint index. The
    * posting table (term, doc_id, cnt, dl) is bucketed BY TERM, so a
    * probe's query-term filter prunes to the matching buckets instead of
    * scanning the corpus; corpus stats persist additively as
    * (n_docs, total_dl) batch rows in a `<table>_stats` side table —
    * token counts are integers, so avgdl recomputed from the summed
    * totals is EXACT (order-free), and appends just add a row. */
  def searchIndexBuild(docs: DataFrame, idCol: String, textCol: String,
      tableName: String, tableBuckets: Int = 32): Unit = {
    // ONE termCounts pass over the corpus (r18 optimization — the
    // postings, `_docs`, and `_stats` writes each re-tokenized the full
    // corpus before; guide §1.2 "don't compute things you throw away"):
    // the per-doc (doc_id, dl, _tc) projection is persisted once and
    // all three tables derive from it. dl ≡ size(tokens(text)) because
    // termCounts' cnt values sum to the token count by construction.
    val perDoc = Transforms.materialized(
        docs.select(col(idCol), col(textCol)), "_tc",
        termCounts(col(textCol)))
      .select(col(idCol).cast("long").as("doc_id"),
        aggregate(col("_tc"), lit(0L), (a, p) => a + p.getField("cnt"))
          .as("dl"),
        col("_tc"))
      .persist()
    try {
      val tf = perDoc
        .select(col("doc_id"), col("dl"), explode(col("_tc")).as("_p"))
        .select(col("_p.term").as("term"), col("doc_id"),
          col("_p.cnt").cast("long").as("cnt"), col("dl"))
      // empty tombstone table up front (Bucketing.initTombstones): the
      // posting index joins the persisted family's retraction lifecycle,
      // keyed by doc_id. The `_docs` side table (one (doc_id, dl) row per
      // doc, filtered through the SAME tombstones) exists so a delete can
      // retract the doc's additive-stats contribution without scanning
      // the posting table (doc_id is not the bucket key there).
      Bucketing.initTombstones(tf, "doc_id", tableName)
      // a rebuild supersedes a pending (crashed) append, exactly as it
      // supersedes a pending compact (r18)
      clearAppendMarker(docs.sparkSession, tableName)
      Bucketing.writeBucketed(Bucketing.withGen(tf, 0L),
        tableName, "term", tableBuckets)
      Bucketing.writeTable(
        Bucketing.withGen(perDoc.select(col("doc_id"), col("dl")), 0L),
        tableName + "_docs")
      // stats rows carry (seq, del_sig) bookkeeping: seq is 0 for additive
      // contributions (build/append/compact) and the DELETE SEQUENCE for
      // retraction rows; del_sig is the deleted id-set's order-free digest
      // (XOR of per-id xxhash64, 0 for additive rows). Together they are
      // the retry-detection stamp [[searchIndexDelete]] checks: seq says
      // "a retraction at this sequence exists", del_sig says it was THIS
      // delete's (a different id set at the same sequence — an abandoned
      // partial delete followed by a new one — fails loudly instead of
      // silently skipping the new retraction). Delete seqs are ≥ 1, so
      // additive rows can never shadow a retraction.
      Bucketing.writeTable(
        perDoc.agg(count(lit(1)).as("n_docs"),
          sum("dl").cast("long").as("total_dl"))
          .select(col("n_docs"), col("total_dl"),
            lit(0L).as("seq"), lit(0L).as("del_sig")),
        tableName + "_stats")
    } finally perDoc.unpersist()
  }

  /** Extend a [[searchIndexBuild]] table with a new document batch:
    * postings append per touched bucket (delta-sized), the `_docs` side
    * table gains the batch's (doc_id, dl) rows, and the stats table
    * gains one additive (n_docs, total_dl) row — nothing global is
    * recomputed. Probes against the grown index return exactly what a
    * from-scratch build over the union would (TfIdfSpec pins it).
    *
    * The three appends are not atomic, so the append is RETRYABLE the
    * same way [[searchIndexDelete]] is (r18 — single MAINTAINER, not
    * single ATTEMPT): before anything lands, the batch's digest is
    * written to a tiny `<table>.__append` MARKER FILE next to the
    * warehouse tables (temp + atomic rename — a FILE, not a table row,
    * so the append still makes exactly one write per family table and
    * streams never scan it), and the additive stats row —
    * stamped with the same digest in its `del_sig` column — lands
    * LAST, so its presence means the whole append completed and the
    * marker clears. The digest is the order-free XOR of
    * xxhash64(doc_id, generation) over the batch's distinct ids,
    * GENERATION-SALTED so re-appending the same ids after a delete (the
    * revival path) reads as a new append, never as a retry of the
    * original (an id-only digest would silently no-op the revival). A
    * retry — same batch, marker present, no completed row — probes one
    * bucket-pruned posting row and one `_docs` row of the batch
    * (gen-matched, so a revived doc's pre-existing rows cannot
    * masquerade as this append's; each append is all-or-nothing at job
    * commit) and performs only the missing appends, converging exactly:
    * no doubled postings, no double-counted stats. A DIFFERENT append
    * issued while one is pending, an append under a pending partial
    * delete (its rows would be stamped with the stale generation and
    * suppressed when the delete's tombstones land), and a delete or
    * compact under a pending append all fail loudly instead of
    * interleaving with the partial state — the loud-fail contract of
    * the delete's digest-mismatch path. A REBUILD supersedes a pending
    * append ([[searchIndexBuild]] clears the marker). */
  def searchIndexAppend(newDocs: DataFrame, idCol: String, textCol: String,
      tableName: String, tableBuckets: Int = 32): Unit =
    appendImpl(newDocs, idCol, textCol, tableName, tableBuckets,
      Int.MaxValue)

  /** [[searchIndexAppend]] with a crash-injection point — package-
    * visible so LifecycleRecoverySpec can replay every partial-append
    * state. `failAfter` = persisted steps allowed before the injected
    * crash: 1 = pending marker only, 2 = + postings, 3 = + `_docs`.
    *
    * Four jobs on a first attempt: the lifecycle read is a driver read
    * ([[Bucketing.readLifecycle]]), the batch's (doc_id, dl) rows are
    * collected in ONE job and folded on the driver ([[appendBatch]]:
    * distinct-id count, gen-salted digest, row count, `dl` sum), the
    * `_docs` rows are written from that local relation, and the
    * postings, `_docs` and `_stats` writes are a job each. The postings
    * re-run the batch's termCounts pass rather than persist it: a
    * persisted batch cost an AQE table-cache stage of its own. */
  private[graft] def appendImpl(newDocs: DataFrame, idCol: String,
      textCol: String, tableName: String, tableBuckets: Int,
      failAfter: Int): Unit = {
    val spark = newDocs.sparkSession
    def hook(step: Int): Unit = if (step >= failAfter)
      throw new IllegalStateException(
        s"[graft-test] injected crash after append step $step")
    ensureStatsSchema(spark, tableName)
    assertNoPendingFamilyCompact(spark, tableName, "searchIndexAppend")
    // generation + bookkeeping log: the call's one lifecycle read
    val lc = Bucketing.readLifecycle(spark, tableName, withStats = true)
    val gen = lc.gen
    val book = lc.book
    // the per-doc (doc_id, dl, _tc) projection of the batch; its
    // (doc_id, dl) rows come to the driver in ONE job, and the batch
    // identity, the stats row and the `_docs` rows all derive from them
    val perDoc = Transforms.materialized(
        newDocs.select(col(idCol), col(textCol)), "_tc",
        termCounts(col(textCol)))
      .select(col(idCol).cast("long").as("doc_id"),
        aggregate(col("_tc"), lit(0L), (a, p) => a + p.getField("cnt"))
          .as("dl"),
        col("_tc"))
    val docsOf = perDoc.select("doc_id", "dl")
    val rows = docsOf.collect()
    val batch = appendBatch(rows, gen)
    if (batch.ids == 0L) return // empty batch: nothing to append
    val digest = batch.digest
    def completedRow(d: Long) = book.exists(p => p._1 == 0L && p._2 == d)
    if (completedRow(digest)) {
      // a finished append's retry: idempotent no-op (clear a marker a
      // crash between the stats append and the cleanup left behind)
      clearAppendMarker(spark, tableName)
      return
    }
    if (book.nonEmpty && book.map(_._1).max > gen)
      throw new IllegalStateException(
        s"$tableName: a PRIOR delete at sequence ${book.map(_._1).max} " +
          "left a partial retraction (stats row present, tombstones " +
          "absent) — retry that delete to completion before appending; " +
          "rows appended now would carry the stale generation and be " +
          "suppressed when the delete's tombstones land " +
          "(single-maintainer contract, see graft.ops.Bucketing)")
    val marker = pendingAppendDigest(spark, tableName)
    marker.filter(d => d != digest && !completedRow(d)).foreach { d =>
      throw new IllegalStateException(
        s"$tableName: a prior append left a partial state (pending " +
          s"marker $d without a completed stats row) — retry that " +
          "append to completion before issuing new ones; interleaving " +
          "would make both unrecoverable (single-maintainer contract, " +
          "see graft.ops.Bucketing)")
    }
    val begun = marker.contains(digest)
    val tf = perDoc
      .select(col("doc_id"), col("dl"), explode(col("_tc")).as("_p"))
      .select(col("_p.term").as("term"), col("doc_id"),
        col("_p.cnt").cast("long").as("cnt"), col("dl"))
    var landedPostings = false
    var landedDocs = false
    if (!begun) {
      writeAppendMarker(spark, tableName, digest)
    } else {
      // RETRY: learn which appends landed — each is all-or-nothing at
      // job commit, so one gen-matched existence probe per table
      // decides it. The posting probe key is the batch's minimum
      // (doc_id, term) posting (bucket-pruned by term); a batch with
      // zero postings has nothing to double, so its posting append is
      // vacuously landed.
      val pr = tf.agg(min(struct(col("doc_id"), col("term")))).first()
      landedPostings = pr.isNullAt(0) || {
        val s = pr.getStruct(0)
        spark.table(tableName)
          .filter(col("term") === s.getString(1) &&
            col("doc_id") === s.getLong(0) &&
            col(Bucketing.GenCol) === gen)
          .limit(1).count() > 0
      }
      landedDocs = batch.minId.exists(minId =>
        spark.table(tableName + "_docs")
          .filter(col("doc_id") === minId && col(Bucketing.GenCol) === gen)
          .limit(1).count() > 0)
    }
    hook(1)
    if (!landedPostings)
      Bucketing.appendBucketed(Bucketing.withGen(tf, gen),
        tableName, "term", tableBuckets)
    hook(2)
    if (!landedDocs)
      Bucketing.appendTable(Bucketing.withGen(spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), docsOf.schema), gen),
        tableName + "_docs")
    hook(3)
    appendStatsRow(spark, tableName, batch.rows, batch.dl, 0L, digest)
    clearAppendMarker(spark, tableName)
  }

  /** What an append learns about its batch from the batch's collected
    * (doc_id, dl) rows: the distinct-id count (a NULL id counts once),
    * the order-free gen-salted digest, the row count, the `dl` sum
    * (NULLs skipped, overflow throws as an ANSI `sum` would) and the
    * least non-NULL id. */
  private[graft] final case class AppendBatch(ids: Long, digest: Long,
      rows: Long, dl: Long, minId: Option[Long])

  /** Fold a batch's (doc_id, dl) rows on the driver. The digest is the
    * XOR of `xxhash64(doc_id, gen)` over the DISTINCT ids (a repeated id
    * must not XOR itself away), evaluated with the kernel and seed
    * Spark's `xxhash64` uses: each argument is hashed with the previous
    * hash as its seed, starting from 42, and a NULL argument leaves the
    * hash unchanged. So a pending marker written by an executor-side
    * `xxhash64(doc_id, lit(gen))` fold of the same batch matches on
    * retry. 0 remaps to 1: 0 is the legacy-additive-row stamp and must
    * stay unclaimable; collisions are at the xxhash64 level, the same
    * accepted risk as the delete's digest. */
  private[graft] def appendBatch(rows: Array[Row], gen: Long): AppendBatch = {
    val ids = scala.collection.mutable.HashSet.empty[Any]
    var dl = 0L
    rows.foreach { r =>
      ids += (if (r.isNullAt(0)) null else r.getLong(0))
      if (!r.isNullAt(1)) dl = Math.addExact(dl, r.getLong(1))
    }
    val d = ids.foldLeft(0L) { (acc, id) => acc ^ (id match {
      case l: Long => XXH64.hashLong(gen, XXH64.hashLong(l, 42L))
      case _ => XXH64.hashLong(gen, 42L)
    }) }
    AppendBatch(ids.size.toLong, if (d == 0L) 1L else d, rows.length.toLong,
      dl, ids.collect { case l: Long => l }.minOption)
  }

  /** Warehouse path of the pending-append marker file — a FILE beside
    * the tables, not a table row: an append still writes each family
    * table once, and stream probes, which scan only the tables, never
    * read it. */
  private def appendMarkerPath(spark: SparkSession,
      tableName: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      tableName.toLowerCase + ".__append")

  /** The digest of a pending (begun, not completed) append, if any. */
  private def pendingAppendDigest(spark: SparkSession,
      tableName: String): Option[Long] = {
    val p = appendMarkerPath(spark, tableName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      val in = fs.open(p)
      try in.readFully(buf) finally in.close()
      Some(new String(buf,
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong)
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** Write the pending-append marker via temp + FileContext's atomic
    * rename-with-overwrite: a reader sees the old digest or the new one,
    * never a torn or missing file. */
  private def writeAppendMarker(spark: SparkSession, tableName: String,
      digest: Long): Unit = {
    val p = appendMarkerPath(spark, tableName)
    val conf = spark.sparkContext.hadoopConfiguration
    val tmp = new org.apache.hadoop.fs.Path(p.getParent, p.getName + ".tmp")
    val fs = p.getFileSystem(conf)
    val out = fs.create(tmp, true)
    try out.write(digest.toString.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, conf)
      .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Remove the pending-append marker (append completed, or a rebuild
    * superseded it). */
  private[graft] def clearAppendMarker(spark: SparkSession,
      tableName: String): Unit = {
    val p = appendMarkerPath(spark, tableName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, false)
  }

  /** Append one (n_docs, total_dl, seq, del_sig) bookkeeping row to
    * `<table>_stats` from driver values: a one-row local relation in the
    * table's own column order, written without a second aggregate. */
  private def appendStatsRow(spark: SparkSession, tableName: String,
      nDocs: Long, totalDl: Long, seq: Long, delSig: Long): Unit = {
    val stats = tableName + "_stats"
    val v = Map("n_docs" -> nDocs, "total_dl" -> totalDl, "seq" -> seq,
      "del_sig" -> delSig)
    val names = spark.table(stats).columns.toSeq
    Bucketing.appendTable(spark.createDataFrame(
      java.util.List.of(Row.fromSeq(names.map(v))),
      StructType(names.map(StructField(_, LongType)))), stats)
  }

  /** The pending partial append of `tableName`, if one exists: marker
    * file present AND no completed stats row carries its digest. */
  private def pendingAppend(spark: SparkSession, tableName: String,
      book: Array[(Long, Long)]): Option[Long] =
    pendingAppendDigest(spark, tableName)
      .filterNot(d => book.exists(p => p._1 == 0L && p._2 == d))

  /** Loud guard shared by the BM25 lifecycle writes: refuse while a
    * crashed [[searchIndexCompact]] has committed staging snapshots
    * pending roll-forward (writing now would be silently erased when
    * the staged side tables replace the live ones). */
  private def assertNoPendingFamilyCompact(spark: SparkSession,
      tableName: String, op: String): Unit = {
    Bucketing.assertNoPendingCompact(spark, tableName, op)
    Seq("_docs", "_stats").foreach { s =>
      if (Bucketing.stagedProtocol(spark,
          tableName + "__compact" + s).isDefined)
        throw new IllegalStateException(
          s"$op($tableName): a crashed searchIndexCompact left a " +
            s"committed staging snapshot (${tableName}__compact$s) — " +
            "roll it forward to completion first by re-running " +
            "searchIndexCompact, or rebuild the index (which discards " +
            "the pending compact); writing now would be silently " +
            "erased when the staged side tables replace the live ones " +
            "(single-maintainer contract, see graft.ops.Bucketing)")
    }
  }

  /** One-time in-place migration for `_stats` tables persisted before
    * the (seq, del_sig) bookkeeping columns existed: rewrite the rows
    * with both stamped 0 (all legacy rows are additive — the columns
    * only ever distinguish retraction rows, which legacy tables cannot
    * contain mid-delete because the delete that writes them also reads
    * the columns). Idempotent, tiny table, counts as one maintenance
    * write. Without it a legacy index's first post-upgrade delete or
    * append fails on schema mismatch with no hint at the cause. */
  private def ensureStatsSchema(spark: SparkSession,
      tableName: String): Unit = {
    val stats = tableName + "_stats"
    val stg = tableName + "__stats_migr"
    // recover a migration that crashed between dropping the stats
    // table and rewriting it: the staged copy is the durable source
    // (r18 — the pre-r18 rewrite read a block-manager checkpoint, so
    // that crash destroyed the only copy of the corpus stats)
    if (!spark.catalog.tableExists(stats) && spark.catalog.tableExists(stg))
      Bucketing.writeTable(spark.table(stg), stats)
    val cols = spark.table(stats).columns.toSet
    if (!cols.contains("seq") || !cols.contains("del_sig")) {
      var df = spark.table(stats)
      if (!cols.contains("seq")) df = df.withColumn("seq", lit(0L))
      if (!cols.contains("del_sig")) df = df.withColumn("del_sig", lit(0L))
      Bucketing.writeTable(df, stg) // durable staged copy FIRST
      Bucketing.writeTable(spark.table(stg), stats)
    }
    if (spark.catalog.tableExists(stg)) Bucketing.dropStaging(spark, stg)
  }

  /** Tombstone RETRACTION for a [[searchIndexBuild]] posting index (r16
    * — a retracted document otherwise keeps ranking forever, and its
    * length keeps skewing avgdl). Two effects, both pure appends:
    * the doc ids tombstone into the small `<tableName>_del` side table
    * (suppressing every posting row and the `_docs` row of those docs
    * at probe time), and ONE NEGATIVE (n_docs, total_dl) row appends to
    * the additive `_stats` table, retracting exactly the deleted docs'
    * contribution — computed from the LIVE `_docs` view, so re-deleting
    * an already-deleted (or never-indexed) id retracts zero rather than
    * double-counting. [[searchIndexProbe]](build ∪ append − delete) ≡
    * probe(rebuilt over the survivors) — spec-pinned in TfIdfSpec,
    * oracled by q_bm25_tombstone.
    *
    * The two appends are not atomic, so the delete is made RETRYABLE
    * instead (single MAINTAINER, not single ATTEMPT — the
    * [[Bucketing]] lifecycle's concurrency contract): the retraction
    * row is stamped with this delete's sequence AND an order-free
    * digest of its id set, and stats land BEFORE tombstones. A failure
    * between the two leaves a transient state (stats retracted, docs
    * still ranking) that re-running the same delete converges EXACTLY:
    * the retry sees its (seq, digest) already in `_stats` (the
    * tombstones never landed, so the generation of the call's
    * [[Bucketing.readLifecycle]] read is unchanged and yields the same
    * sequence), skips the retraction, and completes the
    * tombstone append. A DIFFERENT delete issued while a partial one is
    * pending would claim the same sequence — the digest mismatch fails
    * it LOUDLY instead of silently skipping its retraction (the stats
    * would otherwise skew for every score, permanently after compact).
    * The opposite append order would be worse than non-atomic — once
    * tombstones land, the docs read as dead, a retry measures a ZERO
    * retraction, and the stats stay skewed by the deleted docs'
    * (n_docs, total_dl) forever. */
  def searchIndexDelete(spark: SparkSession, tableName: String,
      delIds: DataFrame, idCol: String): Unit = {
    ensureStatsSchema(spark, tableName)
    assertNoPendingFamilyCompact(spark, tableName, "searchIndexDelete")
    // refuse under a pending partial APPEND (r18): the retraction
    // measures doc lengths from `_docs`, which the partial append may
    // not have written yet — deleting its docs now would retract zero
    // while their postings keep ranking, permanently once the append
    // completes
    val lc = Bucketing.readLifecycle(spark, tableName, withStats = true)
    pendingAppend(spark, tableName, lc.book).foreach { d =>
      throw new IllegalStateException(
        s"$tableName: a prior append left a partial state (pending " +
          s"marker $d without a completed stats row) — retry that " +
          "append to completion before deleting (single-maintainer " +
          "contract, see graft.ops.Bucketing)")
    }
    // the distinct id set on the driver: broadcast-small by the same
    // contract as `_del` itself, which it joins as tombstone rows
    val ids = delIds.select(col(idCol).cast("long")).collect()
      .map(_.get(0)).distinct.toSeq
    val seq = lc.gen + 1L
    // order-free digest of THIS delete's id set: a retraction row is
    // "already applied" only if both its sequence AND its digest match —
    // a bare-seq check would mistake an ABANDONED partial delete's
    // retraction (same next-seq, different ids) for this one's and
    // silently skip the new retraction. XOR of per-id xxhash64: order-
    // free AND overflow-free; the id set is distinct, so XOR
    // self-cancellation cannot occur. Computed with the kernel Spark's
    // `xxhash64(doc_id)` evaluates (seed 42; a NULL id hashes to the
    // seed), so a retraction row stamped by a
    // `bit_xor(xxhash64(doc_id))` aggregate matches on retry.
    val delSig = ids.foldLeft(0L) { (acc, id) => acc ^ (id match {
      case l: Long => XXH64.hashLong(l, 42L)
      case _ => 42L
    }) }
    val prior = lc.book.collectFirst { case (s, d) if s == seq => d }
    prior match {
      case Some(sig) if sig == delSig => () // this delete's retry: applied
      case Some(_) => throw new IllegalStateException(
        s"$tableName: a PRIOR delete at sequence $seq left a partial " +
          "retraction (stats row present, tombstones absent) for a " +
          "DIFFERENT id set — retry that delete to completion (or " +
          "rebuild) before issuing new deletes; proceeding would skew " +
          "the corpus stats for every score (single-maintainer contract, " +
          "see graft.ops.Bucketing)")
      case None =>
        // retraction measured BEFORE the tombstones land (the docs must
        // still be live): the deleted ids' `_docs` rows, live under the
        // read's tombstones
        val keys = ids.collect { case l: Long => l }
        var n = 0L
        var dl = 0L
        if (keys.nonEmpty) {
          val docs = spark.table(tableName + "_docs")
          val rowGen =
            if (docs.columns.contains(Bucketing.GenCol)) col(Bucketing.GenCol)
            else lit(0L)
          docs.filter(GraftShims.inSet(col("doc_id"), keys.toSet[Any]))
            .select(col("doc_id"), col("dl").cast("long"), rowGen)
            .collect()
            .filter(r => lc.tombstones.get(r.getLong(0))
              .forall(r.getLong(2) >= _))
            .foreach { r =>
              n += 1L
              if (!r.isNullAt(1)) dl = Math.addExact(dl, r.getLong(1))
            }
        }
        appendStatsRow(spark, tableName, Math.negateExact(n),
          Math.negateExact(dl), seq, delSig)
    }
    Bucketing.tombstoneAppendKeys(spark, ids,
      StructField("doc_id", LongType), tableName, seq)
  }

  /** Fold tombstones into the posting base and the `_docs` side table
    * (both rewritten to live rows), collapse `_stats` to one net row,
    * truncate `_del`. Probe results unchanged by construction. Returns
    * the live posting row count.
    *
    * CRASH-CONVERGENT (r18 — the [[Bucketing]] staging protocol,
    * extended to the family): the live `_docs` rows and the net stats
    * row are staged DURABLY (while `_del` still exists — liveness needs
    * the tombstones) before any destructive step, then the base
    * compacts through [[Bucketing.tombstoneCompact]]'s own staged
    * protocol, then `_docs` and `_stats` rewrite from the staged files.
    * A retry after a failure at any point rolls the committed stagings
    * forward — in particular, the dangling-retraction guard below is
    * SKIPPED on the roll-forward path: after the base compact truncates
    * `_del`, the not-yet-collapsed `_stats` rows would read as a
    * pending delete (seq past the reset generation) and wrongly block
    * the retry forever. */
  def searchIndexCompact(spark: SparkSession, tableName: String,
      tableBuckets: Int = 32): Long =
    compactImpl(spark, tableName, tableBuckets, Int.MaxValue)

  /** [[searchIndexCompact]] with a crash-injection point — package-
    * visible so LifecycleRecoverySpec can replay every partial-compact
    * state. `failAfter` = persisted phases allowed before the injected
    * crash: 1 = side-table stagings committed, 2 = + base compacted
    * (`_del` truncated), 3 = + `_docs` rewritten. */
  private[graft] def compactImpl(spark: SparkSession, tableName: String,
      tableBuckets: Int, failAfter: Int): Long = {
    def hook(step: Int): Unit = if (step >= failAfter)
      throw new IllegalStateException(
        s"[graft-test] injected crash after compact step $step")
    val stgDocs = tableName + "__compact_docs"
    val stgStats = tableName + "__compact_stats"
    val rolling = Bucketing.stagedProtocol(spark, stgDocs).isDefined &&
      Bucketing.stagedProtocol(spark, stgStats).isDefined
    if (!rolling) {
      ensureStatsSchema(spark, tableName)
      // r18 (r17 ADVICE, medium): a crashed searchIndexDelete leaves a
      // DANGLING retraction — a _stats row whose seq is past the latest
      // tombstone sequence (stats land BEFORE tombstones, the retry
      // handle). Compacting over it would net the retraction into the
      // collapsed stats row while the docs it retracted stay live
      // (their tombstones never landed), then reset seq/del_sig to 0 —
      // permanently and undetectably baking in exactly the corpus-stats
      // skew the (seq, del_sig) retry machinery exists to prevent. Fail
      // loudly instead: retry the pending delete to completion first
      // (same contract as searchIndexDelete's digest-mismatch path).
      val lc = Bucketing.readLifecycle(spark, tableName, withStats = true)
      val book = lc.book
      val pending = if (book.isEmpty) 0L else book.map(_._1).max
      val gen = lc.gen
      if (pending > gen)
        throw new IllegalStateException(
          s"$tableName: a PRIOR delete at sequence $pending left a " +
            s"partial retraction (stats row present, tombstones absent — " +
            s"current generation is $gen) — retry that delete to " +
            "completion before compacting; compacting now would bake " +
            "its stats retraction into the collapsed row while the " +
            "retracted docs stay live, skewing every future score " +
            "(single-maintainer contract, see graft.ops.Bucketing)")
      // and a pending partial APPEND (marker without a completed row)
      // must finish first for the same reason: its partial rows would
      // be compacted in as if complete, baking in the partiality
      pendingAppend(spark, tableName, book).foreach { d =>
        throw new IllegalStateException(
          s"$tableName: a prior append left a partial state (pending " +
            s"marker $d without a completed stats row) — retry that " +
            "append to completion before compacting (single-maintainer " +
            "contract, see graft.ops.Bucketing)")
      }
      // stage the side-table rewrites DURABLY while _del still exists
      // (replaces the pre-r18 block-manager localCheckpoints: a crash
      // no longer loses the only copy of the live rows)
      Bucketing.writeTable(
        Bucketing.withGen(
          Bucketing.liveViewOf(spark.table(tableName + "_docs"), spark,
            tableName + "_del", "doc_id"), 0L),
        stgDocs)
      Bucketing.commitStaging(spark, stgDocs, "bm25")
      Bucketing.writeTable(
        spark.table(tableName + "_stats")
          .agg(sum("n_docs").cast("long").as("n_docs"),
            sum("total_dl").cast("long").as("total_dl"))
          .withColumn("seq", lit(0L)).withColumn("del_sig", lit(0L)),
        stgStats)
      Bucketing.commitStaging(spark, stgStats, "bm25")
    } else System.err.println(
      s"[graft] $tableName: rolling forward a previously staged " +
        "searchIndexCompact")
    hook(1)
    val n = Bucketing.tombstoneCompact(spark, tableName, "doc_id", "term",
      tableBuckets)
    hook(2)
    Bucketing.writeTable(Bucketing.stagingRows(spark, stgDocs),
      tableName + "_docs")
    hook(3)
    Bucketing.writeTable(Bucketing.stagingRows(spark, stgStats),
      tableName + "_stats")
    Bucketing.dropStaging(spark, stgDocs)
    Bucketing.dropStaging(spark, stgStats)
    n
  }

  /** BM25-score a query against a [[searchIndexBuild]] table. Result
    * multiset is identical to [[bm25]] over the indexed corpus with the
    * same parameters (the oracle surface): df_t re-derives from the
    * matched postings, N/avgdl from the summed stats rows — both exact.
    *
    * Scale shape: the term IN (...) filter prunes the bucketed posting
    * scan to the query terms' buckets (pinned in TfIdfSpec); everything
    * after is bounded by the matched posting count, and the only shuffle
    * is the per-doc score aggregation of those postings. The corpus text
    * is never touched at probe time.
    *
    * The call reads the index's `_stats` and `_del` rows ONCE, on the
    * driver ([[Bucketing.readLifecycle]], no Spark job), and plans
    * against that read: N and avgdl become literals, tombstones a filter
    * over the matched postings ([[Bucketing.liveViewAt]]), and the
    * tombstone gauge an `observe` on the result. A probe plus top-k
    * collect is two jobs: the scan+window stage and the result
    * (IndexCallJobsSpec). The returned DataFrame belongs to the index
    * state at call time — call the probe again after a maintenance write
    * rather than re-running an older DataFrame. */
  def searchIndexProbe(spark: SparkSession, tableName: String,
      queryTerms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val lc = Bucketing.readLifecycle(spark, tableName, withStats = true)
    // N and avgdl from the call's lifecycle read: the same long sums,
    // long→double casts and divide as the stats aggregate they replace,
    // so score arithmetic is bit-identical
    val n = lc.nDocs.toDouble
    val avgdl = lc.totalDl.toDouble / lc.nDocs.toDouble
    // df_t per term over the live matched postings: a window on the
    // term-bucketed scan, whose hash partitioning by term it reuses —
    // no shuffle, no broadcast back. The term filter goes below the
    // tombstone filter, so a row meets the map lookup only if it matches
    val postings = Bucketing.liveViewAt(
        spark.table(tableName).filter(col("term").isin(queryTerms: _*)),
        lc, "doc_id")
      .withColumn("df_t", count(lit(1)).over(Window.partitionBy("term")))
    val idf = log(lit(1.0) +
      (lit(n) - col("df_t") + 0.5) / (col("df_t") + 0.5))
    Bucketing.tombstoneGauge(postings
      .withColumn("_s", idf * col("cnt").cast("double") * (lit(k1) + 1.0) /
        (col("cnt").cast("double") + lit(k1) *
          (lit(1.0) - lit(b) + lit(b) * col("dl").cast("double") / lit(avgdl))))
      .groupBy("doc_id")
      .agg(sum("_s").as("score"), count(lit(1)).as("n_terms")), lc)
  }

  /** The 1-row static side for [[searchIndexScoreDocs]] /
    * [[searchScoreStream]]: corpus size, average doc length, and a
    * (term → df_t) map restricted to the standing query terms — all
    * derived from the LIVE index (stats rows are additive, postings
    * filter through the tombstone generation view), so an index append
    * or delete shifts every downstream score exactly as a rebuild
    * would. A handful of values however large the corpus: the posting
    * scan is bucket-pruned to the query terms, the stats table is one
    * row per batch. */
  private def searchStatsSide(spark: SparkSession, tableName: String,
      queryTerms: Seq[String]): DataFrame = {
    val st = Bucketing.listedTable(spark, tableName + "_stats")
      .agg(sum("n_docs").cast("double").as("_n"),
        sum("total_dl").cast("double").as("_tdl"))
      .select(col("_n"), (col("_tdl") / col("_n")).as("_avgdl"))
    val dfm = Bucketing.liveView(spark, tableName, "doc_id")
      .filter(col("term").isin(queryTerms: _*))
      .groupBy("term").agg(count(lit(1)).cast("double").as("df_t"))
      .agg(map_from_entries(collect_list(struct(col("term"), col("df_t"))))
        .as("_dfm"))
    st.crossJoin(dfm)
  }

  /** Score INCOMING documents against a [[searchIndexBuild]] table's
    * corpus statistics — the TRANSPOSED probe. [[searchIndexProbe]]
    * ranks the INDEXED corpus for a query; this ranks a NEW document
    * batch (a crawl delta, an event stream) against STANDING query
    * terms, with idf/N/avgdl taken from the index: the
    * classify-at-arrival half of text search (alerting, routing,
    * relevance-gating an ingest pipeline — the reference's
    * filter-then-route shape with a learned-statistics scorer).
    *
    * Scoring contract: identical BM25 arithmetic to
    * [[searchIndexProbe]] — for a document that IS in the index,
    * scoring its text here returns exactly the probe's score for it
    * (TF from [[graft.functions.TextFunctions.termCounts]] over the
    * text ≡ TF from its posting rows; TfIdfSpec pins it to 1e-9). A
    * query term absent from the corpus scores with df_t = 0 (the
    * standard unseen-term idf), so novel vocabulary still ranks.
    *
    * Scale shape: per-document work is one run-length termCounts pass
    * plus a fold over at most |queryTerms| matched entries; the index
    * contributes ONE broadcast row (bucket-pruned posting scan for the
    * df map). The document batch never shuffles — scoring is a pure
    * projection, whatever the corpus size. Output: (doc_id, score,
    * n_terms) for documents matching ≥ 1 query term. */
  def searchIndexScoreDocs(spark: SparkSession, tableName: String,
      docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    scoredAgainstStats(
      docs.select(col(idCol).cast("long").as("doc_id"), col(textCol)),
      textCol, queryTerms, k1, b,
      searchStatsSide(spark, tableName, queryTerms))
      .select("doc_id", "score", "n_terms")
  }

  /** Streaming [[searchIndexScoreDocs]] — standing-query BM25 scoring
    * at ingest against the persisted posting index. STATELESS: the
    * score is a per-row projection. The postings, `_del` and `_stats`
    * are listed every micro-batch ([[Bucketing.listedTable]]), so each
    * index APPEND or DELETE after stream start shifts the scores of
    * the next micro-batch exactly as the batch twin's would, with no
    * restart (StreamingSpec pins stream ≡ batch across a delete and
    * across two appends).
    * `minScore` is the alerting threshold (0.0 = emit every
    * ≥1-term match). Output: (doc_id, ts, score, n_terms), append
    * mode. */
  def searchScoreStream(stream: DataFrame, idCol: String,
      textCol: String, tsCol: String, spark: SparkSession,
      tableName: String, queryTerms: Seq[String], minScore: Double = 0.0,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    scoredAgainstStats(
      stream.select(col(idCol).cast("long").as("doc_id"), col(textCol),
        col(tsCol).as("ts")),
      textCol, queryTerms, k1, b,
      searchStatsSide(spark, tableName, queryTerms))
      .filter(col("score") >= minScore)
      .select("doc_id", "ts", "score", "n_terms")
  }

  /** Shared scorer: one termCounts pass, the matched-terms fold, BM25
    * arithmetic against the broadcast 1-row stats side. Works on batch
    * and streaming inputs alike (crossJoin of a 1-row static side is a
    * broadcast nested loop either way). */
  private def scoredAgainstStats(docs: DataFrame, textCol: String,
      queryTerms: Seq[String], k1: Double, b: Double,
      statsSide: DataFrame): DataFrame = {
    val qlit = typedLit(queryTerms)
    Transforms.materialized(docs, "_tc", termCounts(col(textCol)))
      .withColumn("_dl",
        aggregate(col("_tc"), lit(0L), (a, p) => a + p.getField("cnt"))
          .cast("double"))
      .withColumn("_m",
        filter(col("_tc"), p => array_contains(qlit, p.getField("term"))))
      .filter(size(col("_m")) > 0)
      // dummy-key equi-join rather than crossJoin: stream-static INNER
      // equi-joins are supported unconditionally, and the 1-row side
      // broadcasts either way
      .withColumn("_k", lit(1))
      .join(broadcast(statsSide.withColumn("_k", lit(1))), "_k")
      .withColumn("score",
        aggregate(col("_m"), lit(0.0), (acc, p) => {
          val dft = coalesce(element_at(col("_dfm"), p.getField("term")),
            lit(0.0))
          val cnt = p.getField("cnt").cast("double")
          acc + log(lit(1.0) + (col("_n") - dft + 0.5) / (dft + 0.5)) *
            cnt * (k1 + 1.0) /
            (cnt + lit(k1) *
              (lit(1.0 - b) + lit(b) * col("_dl") / col("_avgdl")))
        }))
      .withColumn("n_terms", size(col("_m")).cast("long"))
      .drop("_tc", "_dl", "_m", "_k", "_n", "_avgdl", "_dfm", textCol)
  }

  /** Character-trigram substring-search index — the pg_trgm /
    * code-search design, the SUBSTRING complement of the term-level
    * [[searchIndexBuild]]: posting rows (trigram, doc_id) bucketed BY
    * trigram. Documents shorter than 3 characters produce no postings
    * (and no 3+-character query can match them). */
  def trigramIndexBuild(docs: DataFrame, idCol: String, textCol: String,
      tableName: String, tableBuckets: Int = 32): Unit = {
    val tg = trigramPostings(docs, idCol, textCol, tableBuckets)
    // the trigram index joins the persisted family's retraction
    // lifecycle, keyed by doc_id (one delete suppresses every posting
    // row of the doc)
    Bucketing.initTombstones(tg, "doc_id", tableName)
    Bucketing.writeBucketed(Bucketing.withGen(tg, 0L),
      tableName, "tg", tableBuckets)
  }

  /** `buckets > 0` re-clusters the exploded postings by the bucket key
    * before a bucketed write: the r18 fanOut multiplied output files to
    * (tasks × buckets) per write — this one exchange restores one file
    * per bucket per write (repartition's hash ≡ the bucket hash, so
    * partition p holds exactly bucket p), which the bucket-pruned
    * probes re-read forever (r18 ADVICE; guide §6 output file sizing).
    * fanOut stays: the CPU-heavy explode still runs at session
    * parallelism BELOW the exchange. */
  private def trigramPostings(docs: DataFrame, idCol: String,
      textCol: String, buckets: Int): DataFrame = {
    val n = length(col(textCol))
    // fanOut (r18): the per-row trigram explode multiplies each document
    // to ~|text| posting rows and feeds the bucketed write directly —
    // on a single-split scan the whole explode AND the write ran in one
    // task (measured 4 s at sf0.1 in q_fuzzy_match's build). No-op at
    // real scale.
    val tg = Transforms.fanOut(docs.select(col(idCol), col(textCol)))
      .select(col(idCol).cast("long").as("doc_id"),
        explode(when(n < 3, array().cast("array<string>"))
          .otherwise(array_distinct(transform(sequence(lit(1), n - 2),
            i => col(textCol).substr(i, lit(3)))))).as("tg"))
    if (buckets > 0) tg.repartition(buckets, col("tg")) else tg
  }

  /** Append a new document batch to a [[trigramIndexBuild]] table —
    * delta-sized posting write, stamped with the index's current
    * generation (a re-appended deleted doc revives; pure file append,
    * safe under any live probe). */
  def trigramIndexAppend(newDocs: DataFrame, idCol: String,
      textCol: String, tableName: String, tableBuckets: Int = 32): Unit =
    Bucketing.appendBucketed(
      Bucketing.withGen(trigramPostings(newDocs, idCol, textCol, tableBuckets),
        Bucketing.currentGen(newDocs.sparkSession, tableName)),
      tableName, "tg", tableBuckets)

  /** Tombstone RETRACTION for a [[trigramIndexBuild]] table (r16 — the
    * last posting index without it): deleted doc ids suppress every
    * posting row of the doc at probe time; both probes read the live
    * view, so a retracted document can no longer be returned (exact
    * probe) or counted (fuzzy probe). */
  def trigramIndexDelete(spark: SparkSession, tableName: String,
      delIds: DataFrame, idCol: String): Unit =
    Bucketing.tombstoneAppend(
      delIds.select(col(idCol).cast("long").as("doc_id")),
      "doc_id", tableName)

  /** Fold tombstones into the posting base (live rows, one file per tg
    * bucket, `_del` truncated). Returns the live posting row count. */
  def trigramIndexCompact(spark: SparkSession, tableName: String,
      tableBuckets: Int = 32): Long =
    Bucketing.tombstoneCompact(spark, tableName, "doc_id", "tg",
      tableBuckets)

  /** Exact substring search against a [[trigramIndexBuild]] table:
    * candidates are documents whose posting rows cover EVERY trigram of
    * the query (a necessary condition for containing it), then the
    * survivors are verified with a real `contains` against the text —
    * so results are EXACT, the index only prunes. Scan cost: the
    * trigram IN (...) predicate is PUSHED into the posting scan, and
    * because the build `sortBy`s each bucket file on tg, every
    * trigram's postings are contiguous — parquet min/max row-group
    * stats skip everything outside the query's trigrams. (Spark's
    * planner deliberately does NOT use the bucketed-scan path here —
    * DisableUnnecessaryBucketedScan fires because no downstream
    * operator consumes tg-partitioning, unlike the bm25 probe whose
    * df_t aggregate does — so the pruning mechanism is row-group
    * stats, not SelectedBucketsCount; TfIdfSpec pins the pushed
    * filter + 2-column ReadSchema.) The verify join touches only
    * candidate documents, a set bounded by the query's rarest
    * trigram's document frequency. Returns the matching `doc_id`s. */
  def trigramIndexProbe(spark: SparkSession, tableName: String,
      docs: DataFrame, idCol: String, textCol: String,
      query: String): DataFrame = {
    require(query.length >= 3,
      "substring query must be at least 3 characters (one full trigram)")
    val qTgs = query.sliding(3).toSeq.distinct
    val cands = Bucketing.liveView(spark, tableName, "doc_id")
      .filter(col("tg").isin(qTgs: _*))
      .groupBy("doc_id").agg(count(lit(1)).as("_m")) // postings are distinct per doc
      .filter(col("_m") === qTgs.size)
    docs.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("_t"))
      .join(cands, "doc_id")
      .filter(col("_t").contains(lit(query)))
      .select("doc_id")
  }

  /** Typo-tolerant (fuzzy) matching against a [[trigramIndexBuild]]
    * table — pg_trgm's containment idea with all-integer semantics: a
    * document matches when it holds posting rows for at least
    * `ceil(minFrac · |query trigrams|)` of the query's distinct
    * trigrams, so a one-character typo (which perturbs ≤ 3 trigrams)
    * still matches at minFrac ≈ 0.7–0.9 while [[trigramIndexProbe]]'s
    * exact contains() would not. No floats anywhere: the threshold is
    * an integer count, so the result set is engine-exact. Same pruned
    * posting-scan shape as the exact probe. Output:
    * (doc_id, n_matched). */
  def trigramFuzzyProbe(spark: SparkSession, tableName: String,
      query: String, minFrac: Double): DataFrame = {
    require(query.length >= 3,
      "fuzzy query must be at least 3 characters (one full trigram)")
    require(minFrac > 0.0 && minFrac <= 1.0, "minFrac must be in (0, 1]")
    val qTgs = query.sliding(3).toSeq.distinct
    val need = math.ceil(minFrac * qTgs.size).toInt
    Bucketing.liveView(spark, tableName, "doc_id")
      .filter(col("tg").isin(qTgs: _*))
      .groupBy("doc_id").agg(count(lit(1)).as("n_matched"))
      .filter(col("n_matched") >= need)
  }

  /** Top-k keywords per document by TF-IDF, rank 1 = highest score, ties
    * broken on term so the output is engine-stable. One additional
    * shuffle on the document id (per-group top-k window). */
  def keywords(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    tfIdf(df, idCol, textCol)
      .withColumn("rnk", row_number().over(
        Window.partitionBy(idCol).orderBy(desc("tfidf"), asc("term"))))
      .filter(col("rnk") <= k)
  }
}
