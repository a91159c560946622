package perfbench

import graft.functions.TextFunctions
import graft.ops.{Similarity, TfIdf}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** index_serve: one closed-loop client against a BM25 index and an
  * IVFADC index built during set-up over a seeded corpus and its
  * clustered embeddings. Each cycle is the same fixed sequence of top-10
  * BM25 probes and IVFADC probes with one append of `AppendDocs` fixed
  * ids and one delete of the same ids, so every run presents the same
  * index generation and tombstone count at each probe. A run builds the
  * indexes and runs one whole cycle in set-up, then a fixed number of
  * timed cycles sized from `seconds`. */
object Serve {
  val Shape: Gen.CorpusShape = Gen.CorpusShape(docs = 2000)
  val Buckets = 4
  val CoarseK = 16
  val PqM = 16
  val PqK = 32
  val Iters = 3
  val K = 10
  val NProbe = 4
  val AnnBatch = 8
  val AppendDocs = 4
  val AppendWords = 60
  val FirstAppendId = 10000000L
  val CycleSecs = 7.5
  val RecallFloor = 0.5

  sealed trait Step
  final case class Bm25(query: Int) extends Step
  final case class Ann(batch: Int) extends Step
  case object Append extends Step
  case object Delete extends Step

  /** Probes to writes 6 : 2, BM25 to ANN probes 4 : 2. */
  val Cycle: Vector[Step] = Vector(Bm25(0), Bm25(1), Ann(0), Append,
    Bm25(2), Ann(1), Bm25(3), Delete)

  def cycles(seconds: Int): Int = math.max(1, math.round(seconds / CycleSecs).toInt)

  /** IVFADC quantizers: coarse k-means centroids and PQ codebooks. */
  final case class Quantizers(coarse: Array[Seq[Double]],
      codebooks: Array[Array[Seq[Double]]])

  /** Docs (id, text) and embeddings (id, vec) written as parquet, one file
    * per core, and read back: the corpus as a user's job would read it. */
  private def write(ctx: Ctx, c: Gen.Corpus): (DataFrame, DataFrame) = {
    val spark = ctx.spark
    val docs = spark.createDataFrame(
      spark.sparkContext.parallelize(c.docs.map(d => Row(d.id, d.text)), ctx.cores),
      StructType(Seq(StructField("id", LongType), StructField("text", StringType))))
    val vecs = spark.createDataFrame(
      spark.sparkContext.parallelize(c.docs.indices.map(i =>
        Row(c.docs(i).id, c.vectors(i).toSeq)), ctx.cores),
      StructType(Seq(StructField("id", LongType),
        StructField("vec", ArrayType(DoubleType, containsNull = false)))))
    val dp = new java.io.File(ctx.work, "corpus-docs").getPath
    val vp = new java.io.File(ctx.work, "corpus-vecs").getPath
    docs.write.parquet(dp)
    vecs.write.parquet(vp)
    (spark.read.parquet(dp), spark.read.parquet(vp))
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val calls = ctx.calls
    val corpus = Gen.corpus(ctx.seed, Shape)
    val (docs, vecs) = write(ctx, corpus)
    val table = "pb_serve_bm25"
    val ivf = "pb_serve_ivfpq"
    calls("bm25_build")(TfIdf.searchIndexBuild(docs, "id", "text", table, Buckets))
    val qz = calls("ivfpq_train")(Quantizers(
      Similarity.kmeansFit(vecs, "id", "vec", k = CoarseK, iters = Iters, cosine = false),
      Similarity.pqTrain(vecs, "id", "vec", m = PqM, k = PqK, iters = Iters)))
      .getOrElse(throw new IllegalStateException("ivfpq_train failed during set-up"))
    calls("ivfpq_build")(Similarity.ivfPqIndexBuild(vecs, "id", "vec",
      qz.codebooks, qz.coarse, ivf, Buckets))
    if (calls.done.exists(_.error.isDefined))
      throw new IllegalStateException("an index build failed during set-up")
    ctx.log("indexes built")

    val ref = new Checks.Bm25Ref()
    corpus.docs.foreach(d => ref.add(d.id, d.text))
    val queries = Gen.bm25Queries(corpus.vocab)
    val appended = Gen.appendDocs(ctx.seed, corpus.vocab, FirstAppendId, AppendDocs, AppendWords)
    val appendDf = spark.createDataFrame(appended.map(d => (d.id, d.text))).toDF("id", "text")
    val deleteDf = spark.createDataFrame(appended.map(d => Tuple1(d.id))).toDF("id")
    val annQ = Gen.annQueries(ctx.seed, 2 * AnnBatch, Shape.dim, Shape.clusters)
    val annDfs = (0 until 2).map { b =>
      spark.createDataFrame(spark.sparkContext.parallelize((0 until AnnBatch).map { i =>
        Row(b * AnnBatch + i, annQ(b * AnnBatch + i).toSeq)
      }, 1), StructType(Seq(StructField("qid", IntegerType),
        StructField("vec", ArrayType(DoubleType, containsNull = false)))))
    }
    val adc = new Checks.AdcRef(qz.codebooks.map(_.map(_.toArray)))
    val vecOf = corpus.docs.indices.map(i => corpus.docs(i).id -> corpus.vectors(i)).toMap
    val codes = mutable.HashMap.empty[Long, Array[Int]]
    def codeOf(id: Long) = codes.getOrElseUpdate(id, adc.code(vecOf(id)))

    var attempted = 0L
    var failed = 0L
    var bm25Bad = 0L
    var bm25Checked = 0L
    val annResults = mutable.ArrayBuffer.empty[(Int, Seq[(Long, Double)])]

    /** One call; its result is checked at once (BM25 against the live
      * reference, which follows every write) or kept for the ANN check.
      * A call counts as failed here only when it throws; a wrong or short
      * answer counts once, in its check's failures. */
    def step(s: Step, timed: Boolean): Unit = {
      val res = s match {
        case Bm25(qi) =>
          val terms = queries(qi)
          calls("bm25_probe")(TfIdf.searchIndexProbe(spark, table, terms)
            .orderBy(desc("score"), asc("doc_id")).limit(K).collect()
            .map(r => (r.getLong(0), r.getDouble(1))).toSeq).map { got =>
            val all = ref.scores(terms)
            val want = all.toVector.sortBy { case (id, sc) => (-sc, id) }.take(K)
            val r = Checks.topK("bm25", got, want, all)
            if (timed) { bm25Checked += 1; bm25Bad += r.failed }
          }
        case Ann(b) =>
          calls("ivfpq_probe")(Similarity.ivfPqProbe(spark, ivf, annDfs(b), "qid", "vec",
            qz.codebooks, qz.coarse, K, NProbe).collect()
            .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))).map { rows =>
            // a query the call left out is checked as an empty list
            val byQ = rows.groupBy(_._1)
            if (timed) annResults ++= (0 until AnnBatch).map(_ + b * AnnBatch).map { q =>
              (q, byQ.getOrElse(q, Array.empty).sortBy(_._2).map(r => (r._3, r._4)).toSeq)
            }
          }
        case Append =>
          calls("bm25_append")(TfIdf.searchIndexAppend(appendDf, "id", "text", table, Buckets))
            .map(_ => appended.foreach(d => ref.add(d.id, d.text)))
        case Delete =>
          calls("bm25_delete")(TfIdf.searchIndexDelete(spark, table, deleteDf, "id"))
            .map(_ => appended.foreach(d => ref.remove(d.id)))
      }
      val c = calls.done.last
      ctx.log(f"${c.name} ${c.ms}%.0f ms${if (timed) "" else " (warm-up)"}")
      if (timed) {
        attempted += 1
        if (res.isEmpty) failed += 1
      }
    }

    Cycle.foreach(step(_, timed = false))
    ctx.setupDone()
    val t0 = Clock.ms()
    val firstTimed = calls.done.size
    (1 to cycles(ctx.seconds)).foreach(_ => Cycle.foreach(step(_, timed = true)))
    val wallS = (Clock.ms() - t0) / 1000.0
    val timedCalls = calls.done.drop(firstTimed).toVector
    val liveMb = Stats.liveMb()

    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (ctx.trace) {
      // the BM25 index's tokenize-and-count kernel alone over the corpus
      // into the noop sink; the second of two passes is kept
      val ms = (1 to 2).flatMap(_ => calls("functions.term_counts") {
        docs.select(TextFunctions.termCounts(col("text")).as("k"))
          .write.format("noop").mode("overwrite").save()
      }.map(_ => calls.done.last.ms))
      layers("functions.term_counts_ms") = ms.last
    }

    val annCheck = Checks.ann(annResults.toSeq, annQ, vecOf, corpus.docs.map(_.id), adc,
      codeOf, K, RecallFloor)
    val checks = Seq(Checks.Result("bm25", bm25Bad, s"$bm25Checked timed probes " +
      "checked against plain BM25 over the live documents"), annCheck)
    def p50(name: String) = Stats.median(timedCalls.filter(_.name == name).map(_.ms))
    // calls per second at each kind's median time, in the cycle's mix: a
    // slow stretch of a few calls (a burst of host load, a collection)
    // moves it less than the timed phase's wall time does
    val medianCycleMs = Cycle.map {
      case Bm25(_) => p50("bm25_probe")
      case Ann(_) => p50("ivfpq_probe")
      case Append => p50("bm25_append")
      case Delete => p50("bm25_delete")
    }.sum
    val bm25Ms = timedCalls.filter(_.name == "bm25_probe").map(_.ms)
    // the highest percentile with ten samples beyond it, from 40 samples
    val tail: Map[String, Double] =
      if (bm25Ms.size >= 40) Map("serve_bm25_tail_ms" ->
        Stats.pct(bm25Ms, 100.0 * (1 - 10.0 / bm25Ms.size)))
      else Map.empty
    val builds = Seq("bm25_build", "ivfpq_train", "ivfpq_build")
    Outcome(attempted = attempted, failed = failed, checks = checks,
      throughput = Cycle.size * 1000.0 / medianCycleMs, liveMb = liveMb,
      layers = layers.toMap, selfTimeMs = Map.empty,
      detail = Map(
        "serve_calls_per_s" -> timedCalls.size / wallS,
        "serve_bm25_p50_ms" -> p50("bm25_probe"),
        "serve_ann_p50_ms" -> p50("ivfpq_probe"),
        "serve_append_p50_ms" -> p50("bm25_append"),
        "serve_delete_p50_ms" -> p50("bm25_delete"),
        "serve_bm25_probes" -> bm25Ms.size.toDouble,
        "index_build_s" -> calls.done.filter(c => builds.contains(c.name)).map(_.ms).sum / 1000.0,
        "cycles" -> cycles(ctx.seconds).toDouble) ++ tail)
  }
}
