package graft

import graft.ops.{Bucketing, Similarity, TfIdf}
import org.apache.hadoop.fs.Path
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The driver-side half of a batch index call: [[Bucketing.readLifecycle]]
  * decodes `_del` and `_stats` in the calling thread, the append folds
  * its batch stats from collected rows, and tombstones are a filter
  * over a broadcast map. Each is pinned against the Spark computation it
  * replaced, and malformed lifecycle files fail on the driver before any
  * job starts. */
class DriverLifecycleSpec extends SparkSpec {

  /** Whole-stage and expression classes compiled while `body` runs. */
  private def compiles(body: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  private def drop(names: String*): Unit = names.foreach { n =>
    Seq("", "_del", "_docs", "_stats").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS `$n$s`"))
    TfIdf.clearAppendMarker(spark, n)
  }

  private def docs(n: Int, tag: String): DataFrame =
    spark.range(n).select(col("id").as("doc_id"),
      concat(lit(s"$tag lifecycle fixture text "), col("id")).as("text"))

  /** The Spark-read lifecycle this read replaced: the raw `_del` and
    * `_stats` rows as one union collected to the driver, folded the
    * same way. The reference every driver-side read must equal. */
  private def sparkRead(t: String, withStats: Boolean): Bucketing.Lifecycle = {
    val delT = t + "_del"
    val del = if (spark.catalog.tableExists(delT)) Some(spark.table(delT))
      else None
    val keyField = del.map(_.schema.head).getOrElse(StructField("key", LongType))
    val nul = lit(null).cast(LongType)
    val delRows = del.map(_.select(lit(0).as("_src"),
      col(keyField.name).as("_k"), col("seq"), nul.as("_n"), nul.as("_t"),
      nul.as("_s")))
    val statsRows = if (!withStats) None else {
      val st = spark.table(t + "_stats")
      def orZero(c: String) =
        if (st.columns.contains(c)) col(c).cast(LongType) else lit(0L)
      Some(st.select(lit(1).as("_src"),
        lit(null).cast(keyField.dataType).as("_k"), orZero("seq").as("seq"),
        col("n_docs").cast(LongType).as("_n"),
        col("total_dl").cast(LongType).as("_t"), orZero("del_sig").as("_s")))
    }
    val rows = (delRows.toSeq ++ statsRows).reduceOption(_.unionByName(_))
      .map(_.collect()).getOrElse(Array.empty[Row])
    var gen = 0L
    var nDocs = 0L
    var totalDl = 0L
    val tomb = scala.collection.mutable.HashMap.empty[Any, Long]
    val book = Array.newBuilder[(Long, Long)]
    rows.foreach { r =>
      val seq = r.getLong(2)
      if (r.getInt(0) == 0) {
        gen = math.max(gen, seq)
        val k = r.get(1)
        if (tomb.get(k).forall(_ < seq)) tomb(k) = seq
      } else {
        book += ((seq, r.getLong(5)))
        if (!r.isNullAt(3)) nDocs = Math.addExact(nDocs, r.getLong(3))
        if (!r.isNullAt(4)) totalDl = Math.addExact(totalDl, r.getLong(4))
      }
    }
    Bucketing.Lifecycle(gen, tomb.toMap, keyField, book.result(), nDocs,
      totalDl)
  }

  private def sameLifecycle(t: String, withStats: Boolean): Unit = {
    val got = Bucketing.readLifecycle(spark, t, withStats)
    val want = sparkRead(t, withStats)
    assert(got.gen == want.gen && got.tombstones == want.tombstones &&
      got.keyField == want.keyField && got.nDocs == want.nDocs &&
      got.totalDl == want.totalDl &&
      got.book.sorted.toSeq == want.book.sorted.toSeq,
      s"$t: driver read $got, Spark read $want")
  }

  /** Write `rows` of `schema` as a fresh table (first batch) or as one
    * more file of it: a lifecycle table grows by one file per op. */
  private def put(t: String, schema: StructType, batches: Seq[Row]*): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$t`")
    batches.zipWithIndex.foreach { case (rows, i) =>
      val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1)
      if (i == 0) Bucketing.writeTable(df, t) else Bucketing.appendTable(df, t)
    }
  }

  private val delSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("seq", LongType)))
  private def statsSchema(cols: String*) =
    StructType(cols.map(StructField(_, LongType)))

  test("readLifecycle equals the Spark-read reference: legacy _stats, NULL n_docs, repeated _del keys") {
    val t = "graft_spec_lc_read"
    try {
      // no `_del` table at all: generation 0, the default key field
      put(t + "_stats", statsSchema("n_docs", "total_dl", "seq", "del_sig"),
        Seq(Row(4L, 40L, 0L, 0L)))
      sameLifecycle(t, withStats = true)
      // repeated `_del` keys across files, latest sequence wins, and a
      // NULL key; a `_stats` table persisted before the bookkeeping
      // columns existed
      put(t + "_del", delSchema,
        Seq(Row(1L, 1L), Row(2L, 2L)), Seq(Row(1L, 3L), Row(null, 2L)),
        Seq(Row(1L, 2L), Row(2L, 2L)))
      put(t + "_stats", statsSchema("n_docs", "total_dl"),
        Seq(Row(10L, 100L)), Seq(Row(-1L, -7L)))
      sameLifecycle(t, withStats = true)
      sameLifecycle(t, withStats = false)
      assert(Bucketing.readLifecycle(spark, t, withStats = false).tombstones ==
        Map(1L -> 3L, 2L -> 2L, (null: Any) -> 2L))
      // a NULL n_docs is skipped, as SQL sum skips it
      put(t + "_stats", statsSchema("n_docs", "total_dl", "seq", "del_sig"),
        Seq(Row(null, 5L, 0L, 0L), Row(3L, 7L, 0L, 11L)),
        Seq(Row(-1L, -2L, 3L, 99L)))
      sameLifecycle(t, withStats = true)
      val lc = Bucketing.readLifecycle(spark, t, withStats = true)
      assert(lc.nDocs == 2L && lc.totalDl == 10L && lc.gen == 3L, lc)
    } finally drop(t)
  }

  test("readLifecycle: an overflowing total_dl throws ArithmeticException, as the Spark read does") {
    val t = "graft_spec_lc_overflow"
    try {
      val big = Long.MaxValue / 2 + 1
      put(t + "_stats", statsSchema("n_docs", "total_dl", "seq", "del_sig"),
        Seq(Row(1L, big, 0L, 0L)), Seq(Row(1L, big, 0L, 0L)))
      intercept[ArithmeticException](sparkRead(t, withStats = true))
      intercept[ArithmeticException](
        Bucketing.readLifecycle(spark, t, withStats = true))
    } finally drop(t)
  }

  test("append digest: the driver fold equals Spark's xxhash64(doc_id, gen) fold, NULL and repeated ids included") {
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("dl", LongType)))
    val rows = Array(Row(1L, 5L), Row(2L, 3L), Row(2L, 3L), Row(null, 4L),
      Row(null, 1L), Row(7L, null), Row(-9L, 2L))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    Seq(0L, 1L, 7L).foreach { gen =>
      // the executor-side aggregate the append ran before (pending
      // markers it wrote must still match on retry)
      def h(id: org.apache.spark.sql.Column) = xxhash64(id, lit(gen))
      val want = df
        .agg(count(lit(1)).as("_rows"), coalesce(sum("dl"), lit(0L)).as("_dl"),
          collect_set(col("doc_id")).as("_ids"),
          coalesce(max(col("doc_id").isNull), lit(false)).as("_null"))
        .select(
          (size(col("_ids")) + col("_null").cast("int")).cast("long"),
          aggregate(col("_ids"),
            when(col("_null"), h(lit(null).cast("long"))).otherwise(lit(0L)),
            (acc, id) => acc.bitwiseXOR(h(id))),
          col("_rows"), col("_dl"))
        .first()
      val got = TfIdf.appendBatch(df.collect(), gen)
      val wantDigest = { val d = want.getLong(1); if (d == 0L) 1L else d }
      assert(got.ids == want.getLong(0) && got.digest == wantDigest &&
        got.rows == want.getLong(2) && got.dl == want.getLong(3),
        s"gen $gen: driver $got, Spark $want")
      assert(got.ids == 5L && got.rows == 7L && got.dl == 18L &&
        got.minId.contains(-9L))
    }
  }

  test("liveViewAt: keys match across key types, NULL keys stay live, a missing generation reads as 0") {
    def lc(keyField: StructField, tomb: Map[Any, Long]) =
      Bucketing.Lifecycle(tomb.values.max, tomb, keyField, Array.empty, 0L, 0L)
    // an Int index key against Long tombstones compares as Long
    val ints = spark.range(10).select(col("id").cast("int").as("k"),
      lit(1L).as(Bucketing.GenCol))
      .union(spark.range(1).select(lit(null).cast("int").as("k"),
        lit(1L).as(Bucketing.GenCol)))
    val kept = Bucketing.liveViewAt(ints,
      lc(StructField("k", LongType), Map(3L -> 2L, 5L -> 1L, (null: Any) -> 9L)),
      "k").collect().map(r => Option(r.get(0))).toSet
    assert(kept == ((0 until 10).filter(_ != 3).map(i => Some(i: Any)).toSet +
      None), s"3 is deleted after generation 1, 5 before it: $kept")
    // string keys reach the map as Catalyst strings; a base without the
    // generation column reads as generation 0, under every tombstone
    val strs = spark.createDataFrame(java.util.Arrays.asList(
      Row("a"), Row("b"), Row("c")),
      StructType(Seq(StructField("s", org.apache.spark.sql.types.StringType))))
    val live = Bucketing.liveViewAt(strs, lc(StructField("s",
      org.apache.spark.sql.types.StringType), Map("b" -> 1L)), "s")
    assert(live.collect().map(_.getString(0)).sorted.toSeq == Seq("a", "c"))
  }

  /** Truncate the largest parquet file of `table` to half its length. */
  private def truncateOne(table: String): String = {
    val dir = new Path(spark.conf.get("spark.sql.warehouse.dir"),
      table.toLowerCase)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val f = fs.listStatus(dir).filter(_.getPath.getName.endsWith(".parquet"))
      .maxBy(_.getLen)
    val buf = new Array[Byte]((f.getLen / 2).toInt)
    val in = fs.open(f.getPath)
    try in.readFully(buf) finally in.close()
    val out = fs.create(f.getPath, true)
    try out.write(buf) finally out.close()
    f.getPath.getName
  }

  test("malformed _del or _stats: the next probe, append and delete fail on the driver, naming table and file, with no job") {
    val t = "graft_spec_lc_malformed"
    val d = docs(20, "malformed")
    Seq("_del", "_stats").foreach { side =>
      try {
        TfIdf.searchIndexBuild(d, "doc_id", "text", t, tableBuckets = 4)
        TfIdf.searchIndexDelete(spark, t,
          d.filter(col("doc_id") === 3L).select("doc_id"), "doc_id")
        val file = truncateOne(t + side)
        val batch = docs(2, "malformed append")
          .select((col("doc_id") + 100L).as("doc_id"), col("text"))
        val calls = Seq[(String, () => Unit)](
          "probe" -> (() => TfIdf.searchIndexProbe(spark, t, Seq("fixture"))),
          "append" -> (() => TfIdf.searchIndexAppend(batch, "doc_id", "text",
            t, tableBuckets = 4)),
          "delete" -> (() => TfIdf.searchIndexDelete(spark, t,
            d.filter(col("doc_id") === 5L).select("doc_id"), "doc_id")))
        calls.foreach { case (name, call) =>
          var ex: IllegalStateException = null
          val jobs = jobsOf { ex = intercept[IllegalStateException](call()) }
          assert(ex.getMessage.contains(t + side) && ex.getMessage.contains(file),
            s"$side $name must name the table and the file: ${ex.getMessage}")
          assert(jobs == 0, s"$side $name started $jobs jobs before failing")
        }
      } finally drop(t)
    }
  }

  test("codegen: repeat probes at one generation compile nothing new; the tombstone map is a referenced object") {
    val t = "graft_spec_lc_codegen"
    val ivf = "graft_spec_lc_codegen_ivf"
    val d = docs(40, "codegen")
    try {
      TfIdf.searchIndexBuild(d, "doc_id", "text", t, tableBuckets = 4)
      TfIdf.searchIndexDelete(spark, t,
        d.filter(col("doc_id").isin(2L, 3L)).select("doc_id"), "doc_id")
      def probe(terms: Seq[String]) = TfIdf.searchIndexProbe(spark, t, terms)
        .orderBy(desc("score"), asc("doc_id")).limit(10).collect()
      probe(Seq("codegen", "lifecycle"))
      val again = compiles(probe(Seq("fixture", "text")))
      assert(again == 0, s"a repeat BM25 probe compiled $again classes")
      // the same plan under a different tombstone set compiles nothing:
      // the map is not inlined into the generated code
      val lc = Bucketing.readLifecycle(spark, t, withStats = true)
      val other = lc.copy(tombstones =
        (10L to 14L).map(k => (k: Any) -> lc.gen).toMap)
      val base = spark.table(t).filter(col("term") === "fixture")
      Bucketing.liveViewAt(base, lc, "doc_id").collect()
      var kept = 0
      val swapped = compiles {
        kept = Bucketing.liveViewAt(base, other, "doc_id").collect().length
      }
      assert(swapped == 0, s"a new tombstone map compiled $swapped classes")
      assert(kept == 40 - 5, "five tombstoned docs are filtered out")

      val e = Tables.embeddings(spark, sf)
      val cb = Similarity.pqTrain(e, "vec_id", "embedding", m = 4, k = 8,
        iters = 1)
      val coarse = Similarity.kmeansFit(e, "vec_id", "embedding", k = 4,
        iters = 1, cosine = false)
      Similarity.ivfPqIndexBuild(e, "vec_id", "embedding", cb, coarse, ivf,
        tableBuckets = 4)
      Similarity.ivfPqIndexDelete(e.filter(col("vec_id") < 3), "vec_id", ivf)
      def ann(lo: Int) = Similarity.ivfPqProbe(spark, ivf,
        e.filter(col("vec_id") >= lo && col("vec_id") < lo + 5), "vec_id",
        "embedding", cb, coarse, k = 5, nprobe = 2).collect()
      ann(0)
      val annAgain = compiles(ann(10))
      assert(annAgain <= 2, s"a repeat IVFADC probe compiled $annAgain classes")
    } finally drop(t, ivf)
  }
}
