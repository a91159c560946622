package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Bucketing, TfIdf}

/** Crash-convergence of the index-maintenance lifecycle (r18).
  *
  * r17 made the BM25 delete retryable across its two non-atomic
  * appends; this suite pins the r18 completion of that arc — EVERY
  * multi-write lifecycle op now converges under retry-after-failure
  * (the single-maintainer contract's explicit inclusion):
  *
  *   - [[Bucketing.tombstoneCompact]] / [[Bucketing.compactBucketed]]
  *     snapshot the live rows to a DURABLE protocol-tagged staging
  *     table before any destructive step and roll it forward on retry —
  *     a crash that destroys the base mid-rewrite is recovered from the
  *     staged files, and re-inserted (revived) keys survive the crash
  *     window between the `_del` truncate and the base rewrite (the
  *     pre-r18 ordering lost them PERMANENTLY: gen-0 rewritten rows
  *     read as suppressed under leftover tombstones, so the retry's
  *     live view excluded them);
  *   - lifecycle appends/deletes fail LOUDLY while a committed staging
  *     is pending (a stale snapshot rolled forward would silently erase
  *     them), and a rebuild supersedes the pending compact;
  *   - [[TfIdf.searchIndexAppend]] is retryable across its three
  *     non-atomic appends via a pending-marker FILE + gen-salted batch
  *     digest (a file, not an extra family-table write), converging
  *     with no doubled postings from every partial state;
  *   - [[TfIdf.searchIndexCompact]] stages its side-table rewrites and
  *     rolls forward — in particular the r18 dangling-retraction guard
  *     must NOT false-fire on the retry of a compact that crashed after
  *     the base compact reset the generation (the uncollapsed `_stats`
  *     rows would read as a pending delete and block convergence
  *     forever).
  */
class LifecycleRecoverySpec extends SparkSpec {

  private def baseRows(s: org.apache.spark.sql.SparkSession): DataFrame = {
    import s.implicits._
    (1L to 20L).map(k => (k, s"v$k")).toDF("k", "v")
  }

  private def dropTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), name.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  private def cleanup(names: String*): Unit = names.foreach { n =>
    Seq("", "_del", "_docs", "_stats", "_meta", "__compact",
      "__compact_docs", "__compact_stats").foreach(s => dropTable(n + s))
    TfIdf.clearAppendMarker(spark, n)
  }

  test("tombstoneCompact: staged roll-forward recovers a destroyed base and keeps revived keys") {
    val tbl = "graft_spec_lcr_tomb"
    try {
      val df = baseRows(spark)
      Bucketing.initTombstones(df, "k", tbl)
      Bucketing.writeBucketed(Bucketing.withGen(df, 0L), tbl, "k", 4)
      // delete keys 3 and 7, then REVIVE key 3 at the post-delete
      // generation — the crash-window victim the pre-r18 ordering lost
      import spark.implicits._
      Bucketing.tombstoneAppend(Seq(3L, 7L).toDF("k"), "k", tbl)
      val gen = Bucketing.currentGen(spark, tbl)
      assert(gen == 1L)
      Bucketing.appendBucketed(
        Bucketing.withGen(Seq((3L, "v3-revived")).toDF("k", "v"), gen),
        tbl, "k", 4)
      def liveSet() = Bucketing.liveView(spark, tbl, "k")
        .as[(Long, String)].collect().toSet
      val expected = (1L to 20L).filterNot(k => k == 3L || k == 7L)
        .map(k => (k, s"v$k")).toSet + ((3L, "v3-revived"))
      assert(liveSet() == expected)
      // ---- crash window 1: staging committed, nothing destructive ----
      Bucketing.stageTombstoneCompact(spark, tbl, "k")
      assert(Bucketing.stagedProtocol(spark,
        Bucketing.compactStagingName(tbl)).contains("tombstone"))
      assert(liveSet() == expected,
        "a committed staging snapshot must be invisible to probes")
      // lifecycle writes refuse while the snapshot is pending: rolled
      // forward later, it would silently erase them
      val exA = intercept[IllegalStateException](Bucketing.appendBucketed(
        Bucketing.withGen(Seq((21L, "v21")).toDF("k", "v"), gen), tbl, "k", 4))
      assert(exA.getMessage.contains("roll it forward"), exA.getMessage)
      val exD = intercept[IllegalStateException](
        Bucketing.tombstoneAppend(Seq(5L).toDF("k"), "k", tbl))
      assert(exD.getMessage.contains("roll it forward"), exD.getMessage)
      // the protocol tag fences the WRONG compact from rolling it
      // forward (compactBucketed would not truncate _del)
      val exP = intercept[IllegalStateException](
        Bucketing.compactBucketed(spark, tbl, "k", 4))
      assert(exP.getMessage.contains("tombstone"), exP.getMessage)
      // ---- crash window 2: _del truncated, base not yet rewritten ----
      Bucketing.truncateTombstones(spark.table(tbl + "_del"), "k", tbl)
      // ---- crash window 3: base DESTROYED mid-rewrite (the pre-r18
      // unrecoverable state: DROP + location delete ran, the write did
      // not; the only copy of the live rows is now the staged one) ----
      dropTable(tbl)
      // retry converges from the staged snapshot
      val n = Bucketing.tombstoneCompact(spark, tbl, "k", "k", 4)
      assert(n == expected.size.toLong)
      assert(liveSet() == expected,
        "roll-forward must recover the live rows, revived key included")
      assert(spark.table(tbl).as[(Long, String, Long)].collect()
        .forall(_._3 == 0L), "compacted rows must be generation 0")
      assert(spark.table(tbl + "_del").isEmpty)
      assert(Bucketing.stagedProtocol(spark,
        Bucketing.compactStagingName(tbl)).isEmpty,
        "the staging snapshot must be gone after the compact completes")
      // lifecycle writes work again
      Bucketing.appendBucketed(
        Bucketing.withGen(Seq((21L, "v21")).toDF("k", "v"), 0L), tbl, "k", 4)
      assert(liveSet() == expected + ((21L, "v21")))
    } finally cleanup("graft_spec_lcr_tomb")
  }

  test("tombstoneCompact: an UNcommitted staging leftover is ignored; a rebuild supersedes a committed one") {
    val tbl = "graft_spec_lcr_uncommitted"
    try {
      import spark.implicits._
      val df = baseRows(spark)
      Bucketing.initTombstones(df, "k", tbl)
      Bucketing.writeBucketed(Bucketing.withGen(df, 0L), tbl, "k", 4)
      Bucketing.tombstoneAppend(Seq(7L).toDF("k"), "k", tbl)
      // a crash DURING the staging write leaves files but no marker —
      // garbage, overwritten by the fresh attempt
      Bucketing.writeBucketed(
        Bucketing.withGen(Seq((999L, "junk")).toDF("k", "v"), 0L),
        Bucketing.compactStagingName(tbl), "k", 4)
      assert(Bucketing.stagedProtocol(spark,
        Bucketing.compactStagingName(tbl)).isEmpty)
      val n = Bucketing.tombstoneCompact(spark, tbl, "k", "k", 4)
      assert(n == 19L)
      assert(!Bucketing.liveView(spark, tbl, "k").as[(Long, String)]
        .collect().exists(_._1 == 999L), "junk staging must not leak in")
      // a committed staging + REBUILD: the rebuild's initTombstones
      // discards the pending compact (the documented escape hatch) —
      // the stale snapshot must never roll forward over the fresh build
      Bucketing.tombstoneAppend(Seq(5L).toDF("k"), "k", tbl)
      Bucketing.stageTombstoneCompact(spark, tbl, "k")
      Bucketing.initTombstones(df, "k", tbl)
      Bucketing.writeBucketed(Bucketing.withGen(df, 0L), tbl, "k", 4)
      assert(Bucketing.stagedProtocol(spark,
        Bucketing.compactStagingName(tbl)).isEmpty,
        "a rebuild must discard the pending compact staging")
      assert(Bucketing.liveView(spark, tbl, "k").count() == 20L)
    } finally cleanup("graft_spec_lcr_uncommitted")
  }

  test("tombstoneCompact: a retry recreates a _del lost mid-truncate; stats migration survives its crash window") {
    val tbl = "graft_spec_lcr_deep"
    try {
      import spark.implicits._
      val df = baseRows(spark)
      Bucketing.initTombstones(df, "k", tbl)
      Bucketing.writeBucketed(Bucketing.withGen(df, 0L), tbl, "k", 4)
      Bucketing.tombstoneAppend(Seq(7L).toDF("k"), "k", tbl)
      // crash inside the commit's truncate: _del dropped, not rewritten
      Bucketing.stageTombstoneCompact(spark, tbl, "k")
      dropTable(tbl + "_del")
      val n = Bucketing.tombstoneCompact(spark, tbl, "k", "k", 4)
      assert(n == 19L)
      assert(spark.catalog.tableExists(tbl + "_del") &&
        spark.table(tbl + "_del").isEmpty,
        "_del must come back empty — eager existence is load-bearing " +
          "for streaming probes")
      // ---- legacy-stats migration crash window (BM25 family) ----
      val bt = "graft_spec_lcr_migr"
      val docs = Tables.documents(spark, sf).filter(col("doc_id") < 60)
      TfIdf.searchIndexBuild(docs, "doc_id", "text", bt, tableBuckets = 4)
      val before = spark.table(bt + "_stats")
        .select("n_docs", "total_dl").as[(Long, Long)].head()
      // simulate the crash between the migration's staged copy and the
      // in-place rewrite: durable staging exists, _stats dropped
      Bucketing.writeTable(spark.table(bt + "_stats"), bt + "__stats_migr")
      dropTable(bt + "_stats")
      // any lifecycle op recovers the stats from the staged copy
      TfIdf.searchIndexDelete(spark, bt,
        docs.filter(col("doc_id") % 7 === 0).select("doc_id"), "doc_id")
      assert(spark.catalog.tableExists(bt + "_stats"))
      assert(!spark.catalog.tableExists(bt + "__stats_migr"),
        "the migration staging must be cleaned up after recovery")
      val after = spark.table(bt + "_stats")
        .agg(sum("n_docs"), sum("total_dl")).as[(Long, Long)].head()
      val want = docs.filter(col("doc_id") % 7 =!= 0)
        .agg(count(lit(1)),
          sum(size(graft.functions.TextFunctions.tokens(col("text")))))
        .as[(Long, Long)].head()
      assert(after == want,
        s"recovered stats + retraction must equal the survivors': " +
          s"$after vs $want (pre-delete $before)")
      cleanup("graft_spec_lcr_migr")
    } finally cleanup("graft_spec_lcr_deep", "graft_spec_lcr_migr")
  }

  test("compactBucketed: staged roll-forward recovers a destroyed table") {
    val tbl = "graft_spec_lcr_layout"
    try {
      import spark.implicits._
      val df = baseRows(spark)
      Bucketing.writeBucketed(df, tbl, "k", 4)
      Bucketing.appendBucketed(Seq((21L, "v21")).toDF("k", "v"), tbl, "k", 4)
      // simulate the crash: the staging half ran (snapshot + layout
      // marker), then the base rewrite died after its DROP
      Bucketing.writeTable(spark.table(tbl),
        Bucketing.compactStagingName(tbl))
      Bucketing.commitStaging(spark,
        Bucketing.compactStagingName(tbl), "layout")
      dropTable(tbl)
      val n = Bucketing.compactBucketed(spark, tbl, "k", 4)
      assert(n == 21L)
      assert(spark.table(tbl).as[(Long, String)].collect().toSet ==
        ((1L to 20L).map(k => (k, s"v$k")).toSet + ((21L, "v21"))))
      assert(Bucketing.stagedProtocol(spark,
        Bucketing.compactStagingName(tbl)).isEmpty)
    } finally cleanup("graft_spec_lcr_layout")
  }

  private def bm25Compare(tbl: String, twin: String,
      terms: Seq[String]): Unit = {
    val got = TfIdf.searchIndexProbe(spark, tbl, terms)
    val want = TfIdf.searchIndexProbe(spark, twin, terms)
    val joined = got.alias("g").join(want.alias("w"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("g.score").as("gs"), col("w.score").as("ws"))
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(!r.isNullAt(1) && !r.isNullAt(2),
        s"doc ${r.getLong(0)} present on only one side")
      assert(math.abs(r.getDouble(1) - r.getDouble(2)) < 1e-9,
        s"doc ${r.getLong(0)}: ${r.getDouble(1)} vs ${r.getDouble(2)}")
    }
  }

  test("searchIndexAppend: retry converges from every partial state, with no doubled postings") {
    val docs = Tables.documents(spark, sf)
    val base = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val terms = Seq("spark", "merge", "window")
    val tbl = "graft_spec_lcr_app"
    val twin = tbl + "_twin"
    try {
      // the union twin every converged retry must match
      TfIdf.searchIndexBuild(docs, "doc_id", "text", twin, tableBuckets = 4)
      val twinPostings = spark.table(twin).count()
      val twinDocs = spark.table(twin + "_docs").count()
      for (failAfter <- 1 to 3) {
        TfIdf.searchIndexBuild(base, "doc_id", "text", tbl, tableBuckets = 4)
        val ex = intercept[IllegalStateException](TfIdf.appendImpl(
          batch, "doc_id", "text", tbl, 4, failAfter))
        assert(ex.getMessage.contains("injected crash"), ex.getMessage)
        // retry through the PUBLIC entry point converges exactly
        TfIdf.searchIndexAppend(batch, "doc_id", "text", tbl, tableBuckets = 4)
        assert(spark.table(tbl).count() == twinPostings,
          s"failAfter=$failAfter: no doubled or missing postings")
        assert(spark.table(tbl + "_docs").count() == twinDocs,
          s"failAfter=$failAfter: no doubled or missing _docs rows")
        val statRows = spark.table(tbl + "_stats")
          .select("seq", "del_sig").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        assert(statRows.count(p => p._1 == 0L && p._2 != 0L) == 1,
          s"failAfter=$failAfter: exactly one completed append row: " +
            statRows.mkString(", "))
        bm25Compare(tbl, twin, terms)
        // a second identical retry is an idempotent no-op
        TfIdf.searchIndexAppend(batch, "doc_id", "text", tbl, tableBuckets = 4)
        assert(spark.table(tbl).count() == twinPostings)
        assert(spark.table(tbl + "_stats").count() == statRows.length.toLong)
      }
    } finally cleanup("graft_spec_lcr_app", "graft_spec_lcr_app_twin")
  }

  test("searchIndexAppend: interleaving ops fail loudly while an append or delete is partial") {
    val docs = Tables.documents(spark, sf)
    val base = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val other = docs.filter(col("doc_id") % 4 === 1)
    val tbl = "graft_spec_lcr_fence"
    try {
      TfIdf.searchIndexBuild(base, "doc_id", "text", tbl, tableBuckets = 4)
      intercept[IllegalStateException](TfIdf.appendImpl(
        batch, "doc_id", "text", tbl, 4, 2)) // marker + postings landed
      // a DIFFERENT append, a delete, and a compact all refuse
      val exA = intercept[IllegalStateException](TfIdf.searchIndexAppend(
        other, "doc_id", "text", tbl, tableBuckets = 4))
      assert(exA.getMessage.contains("retry that append"), exA.getMessage)
      import spark.implicits._
      val exD = intercept[IllegalStateException](TfIdf.searchIndexDelete(
        spark, tbl, Seq(2L).toDF("doc_id"), "doc_id"))
      assert(exD.getMessage.contains("retry that append"), exD.getMessage)
      val exC = intercept[IllegalStateException](
        TfIdf.searchIndexCompact(spark, tbl, tableBuckets = 4))
      assert(exC.getMessage.contains("retry that append"), exC.getMessage)
      // completing the pending append unblocks the lifecycle
      TfIdf.searchIndexAppend(batch, "doc_id", "text", tbl, tableBuckets = 4)
      TfIdf.searchIndexDelete(spark, tbl, Seq(2L).toDF("doc_id"), "doc_id")
      // an append under a pending partial DELETE refuses: its rows
      // would be stamped with the stale generation and suppressed when
      // the delete's tombstones land
      val gen = Bucketing.currentGen(spark, tbl)
      Bucketing.appendTable(
        spark.range(1).select(lit(-1L).as("n_docs"), lit(-5L).as("total_dl"),
          lit(gen + 1L).as("seq"), lit(42L).as("del_sig")),
        tbl + "_stats")
      val exPD = intercept[IllegalStateException](TfIdf.searchIndexAppend(
        docs.filter(col("doc_id") % 8 === 3), "doc_id", "text", tbl,
        tableBuckets = 4))
      assert(exPD.getMessage.contains("retry that delete"), exPD.getMessage)
    } finally cleanup("graft_spec_lcr_fence")
  }

  test("searchIndexCompact: roll-forward converges; the dangling guard must not false-fire on retry") {
    val docs = Tables.documents(spark, sf).limit(120).localCheckpoint()
    val terms = Seq("spark", "merge", "window")
    val tbl = "graft_spec_lcr_cmp"
    val twin = tbl + "_twin"
    try {
      // survivors twin (docs minus the deleted fifth)
      TfIdf.searchIndexBuild(docs.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", twin, tableBuckets = 4)
      for (failAfter <- 1 to 3) {
        TfIdf.searchIndexBuild(docs, "doc_id", "text", tbl, tableBuckets = 4)
        TfIdf.searchIndexDelete(spark, tbl,
          docs.filter(col("doc_id") % 5 === 0).select("doc_id"), "doc_id")
        val ex = intercept[IllegalStateException](
          TfIdf.compactImpl(spark, tbl, 4, failAfter))
        assert(ex.getMessage.contains("injected crash"), ex.getMessage)
        // the retry must NOT throw — in particular at failAfter = 2 the
        // base compact already reset the generation while _stats still
        // holds the uncollapsed retraction rows: the pre-r18 guard
        // would misread that as a pending delete and block forever
        val n = TfIdf.searchIndexCompact(spark, tbl, tableBuckets = 4)
        assert(n == spark.table(twin).count(),
          s"failAfter=$failAfter: compacted postings must equal the twin")
        assert(spark.table(tbl + "_del").isEmpty)
        assert(spark.table(tbl + "_stats").count() == 1,
          s"failAfter=$failAfter: _stats collapsed to the net row")
        assert(spark.table(tbl + "_docs").count() ==
          spark.table(twin + "_docs").count(),
          s"failAfter=$failAfter: _docs rewritten to live rows exactly")
        bm25Compare(tbl, twin, terms)
        assert(Bucketing.stagedProtocol(spark, tbl + "__compact_docs").isEmpty
          && Bucketing.stagedProtocol(spark, tbl + "__compact_stats").isEmpty,
          s"failAfter=$failAfter: stagings cleaned up")
      }
      // maintainIfAdvised rolls a pending compact forward even below
      // the advisory threshold (lifecycle writes are refusing until it
      // completes) — the advise→act loop covers crash recovery too
      TfIdf.searchIndexBuild(docs, "doc_id", "text", tbl, tableBuckets = 4)
      TfIdf.searchIndexDelete(spark, tbl,
        docs.filter(col("doc_id") % 5 === 0).select("doc_id"), "doc_id")
      intercept[IllegalStateException](TfIdf.compactImpl(spark, tbl, 4, 2))
      val rolled = Bucketing.maintainIfAdvised(spark, tbl, "doc_id", "term",
        4, compact = Some(() => TfIdf.searchIndexCompact(spark, tbl, 4)))
      assert(rolled.contains(spark.table(twin).count()),
        s"maintainIfAdvised must roll the pending compact forward: $rolled")
      bm25Compare(tbl, twin, terms)
    } finally cleanup("graft_spec_lcr_cmp", "graft_spec_lcr_cmp_twin")
  }

  test("searchIndexDelete: a partial delete digested by the aggregate form converges on retry") {
    // the delete digests its id set and measures its retraction on the
    // driver. A partial delete persisted by the former aggregate form —
    // bit_xor(xxhash64(doc_id)) over the distinct id set, retraction
    // joined from the live `_docs` view, tombstones never landed — must
    // still read as THIS delete's on retry (a digest mismatch would
    // fail it as a different id set), then converge exactly. The id
    // set carries ids deleted earlier (they retract zero) and a NULL id
    // (it hashes to the seed in both forms and suppresses nothing).
    val docs = Tables.documents(spark, sf).limit(120).localCheckpoint()
    val terms = Seq("spark", "merge", "window")
    val tbl = "graft_spec_lcr_del"
    val twin = tbl + "_twin"
    try {
      TfIdf.searchIndexBuild(docs.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", twin, tableBuckets = 4)
      TfIdf.searchIndexBuild(docs, "doc_id", "text", tbl, tableBuckets = 4)
      TfIdf.searchIndexDelete(spark, tbl,
        docs.filter(col("doc_id") % 10 === 0).select("doc_id"), "doc_id")
      val delIds = docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id").cast("long").as("doc_id"))
        .unionByName(spark.range(1).select(lit(null).cast("long").as("doc_id")))
      val del = delIds.distinct()
      val seq = Bucketing.currentGen(spark, tbl) + 1L
      val sig = del.select(xxhash64(col("doc_id")).as("_h"))
        .agg(coalesce(expr("bit_xor(_h)"), lit(0L))).head().getLong(0)
      Bucketing.appendTable(
        Bucketing.liveViewOf(spark.table(tbl + "_docs"), spark, tbl + "_del",
            "doc_id")
          .join(del, "doc_id")
          .agg((count(lit(1)) * -1L).cast("long").as("n_docs"),
            (coalesce(sum("dl"), lit(0L)) * -1L).cast("long").as("total_dl"))
          .withColumn("seq", lit(seq)).withColumn("del_sig", lit(sig))
          .localCheckpoint(true),
        tbl + "_stats")
      TfIdf.searchIndexDelete(spark, tbl, delIds, "doc_id") // the retry
      val book = spark.table(tbl + "_stats").select("seq", "del_sig").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(book.count(_._1 == seq) == 1 && book.contains((seq, sig)),
        "the retry must keep the partial delete's retraction, not add one: " +
          book.mkString(", "))
      val tomb = spark.table(tbl + "_del").filter(col("seq") === seq)
      assert(tomb.count() == del.count() && tomb.filter(col("doc_id").isNull)
          .count() == 1, "the retry must tombstone the whole id set at its seq")
      def sums(t: String) = spark.table(t + "_stats")
        .agg(sum("n_docs"), sum("total_dl")).head()
      assert(sums(tbl) == sums(twin), "stats must equal the survivors' build")
      bm25Compare(tbl, twin, terms)
    } finally cleanup("graft_spec_lcr_del", "graft_spec_lcr_del_twin")
  }
}
