package graft

import graft.ops.{Similarity, TfIdf}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

/** Spark jobs per BATCH index call. Each BM25 / IVFADC call reads its
  * index's `_del` and `_stats` files once, on the driver and without a
  * job ([[graft.ops.Bucketing.readLifecycle]]), and plans the rest
  * against that read: tombstones are a filter over a broadcast variable
  * (no job), the append folds its batch stats from one collect. On the
  * sub-second calls these indexes serve, each job is fixed
  * coordination cost, so the counts are pinned exactly: a change that
  * adds a job to a call fails here, not only as a slower benchmark.
  * Every index carries a non-empty `_del`, so the tombstone filter is
  * planned, as in steady-state serving. */
class IndexCallJobsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val bm25 = "graft_spec_jobs_bm25"
  private val ivf = "graft_spec_jobs_ivfpq"
  private val terms = Seq("spark", "merge", "window")

  private def drop(names: String*): Unit = names.foreach { n =>
    Seq("", "_del", "_docs", "_stats").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS `$n$s`"))
    TfIdf.clearAppendMarker(spark, n)
  }

  private lazy val docs = Tables.documents(spark, sf)

  /** BM25 index over the even docs with one delete applied. */
  private def bm25Index(): Unit = {
    TfIdf.searchIndexBuild(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", bm25, tableBuckets = 4)
    TfIdf.searchIndexDelete(spark, bm25,
      docs.filter(col("doc_id") % 10 === 0).select("doc_id"), "doc_id")
  }

  test("BM25 probe + top-10: one lifecycle read, broadcast tombstones, scan+window stage, result") {
    try {
      bm25Index()
      val jobs = jobsOf(TfIdf.searchIndexProbe(spark, bm25, terms)
        .orderBy(desc("score"), asc("doc_id")).limit(10).collect())
      assert(jobs == 2, s"BM25 probe ran $jobs jobs")
    } finally drop(bm25)
  }

  test("BM25 probe: df_t is a window over the term-bucketed scan — no Exchange below it") {
    try {
      bm25Index()
      val probed = TfIdf.searchIndexProbe(spark, bm25, terms)
      assert(probed.collect().nonEmpty)
      val windows = collect(probed.queryExecution.executedPlan) {
        case w: WindowExec => w
      }
      assert(windows.size == 1, probed.queryExecution.executedPlan.toString)
      val w = windows.head
      def shuffles(p: SparkPlan): Boolean = p.exists {
        case _: ShuffleExchangeLike | _: ShuffleQueryStageExec => true
        case _ => false
      }
      assert(!shuffles(w), "no Exchange between the posting scan and the " +
        s"df_t window:\n$w")
      val scans = w.collect { case s: FileSourceScanExec => s }
      assert(scans.size == 1 && scans.head.bucketedScan,
        s"the window must sit on the bucketed posting scan:\n$w")
    } finally drop(bm25)
  }

  test("BM25 append and delete: one lifecycle read, driver-side digests and stats rows") {
    try {
      bm25Index()
      val batch = docs.filter(col("doc_id") === 1L || col("doc_id") === 3L)
      // the batch's (doc_id, dl) collect, postings, `_docs` and `_stats`
      // writes
      val append = jobsOf(TfIdf.searchIndexAppend(batch, "doc_id", "text",
        bm25, tableBuckets = 4))
      assert(append == 4, s"BM25 append ran $append jobs")
      // id collect, `_docs` rows of the ids, `_stats` and `_del` writes
      val delete = jobsOf(TfIdf.searchIndexDelete(spark, bm25,
        batch.select("doc_id"), "doc_id"))
      assert(delete == 4, s"BM25 delete ran $delete jobs")
    } finally drop(bm25)
  }

  test("IVFADC probe: one lifecycle read; an empty _del plans no join") {
    val e = Tables.embeddings(spark, sf)
    val cb = Similarity.pqTrain(e, "vec_id", "embedding", m = 4, k = 8, iters = 1)
    val coarse = Similarity.kmeansFit(e, "vec_id", "embedding", k = 4,
      iters = 1, cosine = false)
    val q = e.filter(col("vec_id") < 5)
    def probe() = Similarity.ivfPqProbe(spark, ivf, q, "vec_id", "embedding",
      cb, coarse, k = 5, nprobe = 2)
    try {
      Similarity.ivfPqIndexBuild(e, "vec_id", "embedding", cb, coarse, ivf,
        tableBuckets = 4)
      def filtered(p: org.apache.spark.sql.DataFrame) =
        p.queryExecution.optimizedPlan.toString.contains("graft_live_at")
      assert(!filtered(probe()),
        "an index without tombstones must plan no tombstone filter")
      // query-side cell shuffle, top-k window shuffle, result
      val empty = jobsOf(probe().collect())
      assert(empty == 3, s"IVFADC probe (empty _del) ran $empty jobs")
      Similarity.ivfPqIndexDelete(e.filter(col("vec_id") < 3), "vec_id", ivf)
      // the tombstone filter adds no job
      assert(filtered(probe()))
      val deleted = jobsOf(probe().collect())
      assert(deleted == 3, s"IVFADC probe (non-empty _del) ran $deleted jobs")
    } finally drop(ivf)
  }
}
