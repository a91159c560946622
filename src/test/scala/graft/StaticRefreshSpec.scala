package graft

import graft.ops.Bucketing
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** What a running stream sees of later writes to a V1 catalog parquet
  * table it joins statically.
  *
  * Through plain `spark.table` (measured, Spark 4.1):
  *   - the FIRST write to the table after stream start IS visible (the
  *     write refreshes the pinned relation's file index in place);
  *   - the SECOND and later writes are NOT (the first write also evicted
  *     the catalog's relation-cache entry, so later writes refresh a
  *     re-resolved relation the running stream no longer holds);
  *   - batch reads and freshly started streams see everything.
  *
  * Through [[graft.ops.Bucketing.listedTable]], which every streaming
  * probe uses for its index tables, each write is visible from the next
  * micro-batch on. Pinning the frozen `spark.table` case too is
  * deliberate: if a Spark upgrade changes it, this spec says so.
  */
class StaticRefreshSpec extends SparkSpec {
  import spark.implicits._
  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("stream-static over a V1 catalog table: first post-start write visible, second frozen; fresh plans see all") {
    val tbl = "graft_spec_refresh_env"
    Bucketing.writeTable(Seq((10L, 100L)).toDF("n_docs", "total_dl"), tbl)
    val st = spark.table(tbl)
      .agg(sum("n_docs").cast("double").as("_n"))
      .withColumn("_k", lit(1))
    val ms = new MemoryStream[(Long, Timestamp)](81, spark, None)
    val out = ms.toDF().toDF("id", "ts").withColumn("_k", lit(1))
      .join(broadcast(st), "_k").select("id", "_n")
    val q = out.writeStream.format("memory").queryName("refresh_env_out")
      .outputMode("append").start()
    def seen(id: Long): Double = spark.table("refresh_env_out")
      .filter(col("id") === id).select("_n").as[Double].head()
    def append(n: Long, dl: Long): Unit =
      Seq((n, dl)).toDF("n_docs", "total_dl")
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .format("parquet").saveAsTable(tbl)
    try {
      ms.addData(Seq((1L, ts(0)))); q.processAllAvailable()
      assert(seen(1L) == 10.0, "pre-maintenance read must see the build")
      append(5L, 50L) // maintenance write #1 on this table
      ms.addData(Seq((2L, ts(1)))); q.processAllAvailable()
      assert(seen(2L) == 15.0,
        "the FIRST post-start write must be visible to the running stream")
      append(-3L, -30L) // write #2 — the envelope boundary
      ms.addData(Seq((3L, ts(2)))); q.processAllAvailable()
      assert(seen(3L) == 15.0,
        "ENVELOPE PIN: the second write is expected to be INVISIBLE to " +
          "the running stream (V1 relation refresh semantics) — if this " +
          "fails the envelope changed underneath us: re-measure and " +
          "update every streaming probe's contract doc")
      // batch reads and a freshly-planned stream see everything
      assert(spark.table(tbl).agg(sum("n_docs")).as[Long].head() == 12L)
      val ms2 = new MemoryStream[(Long, Timestamp)](82, spark, None)
      val st2 = spark.table(tbl)
        .agg(sum("n_docs").cast("double").as("_n"))
        .withColumn("_k", lit(1))
      val q2 = ms2.toDF().toDF("id", "ts").withColumn("_k", lit(1))
        .join(broadcast(st2), "_k").select("id", "_n")
        .writeStream.format("memory").queryName("refresh_env_out2")
        .outputMode("append").start()
      try {
        ms2.addData(Seq((9L, ts(3)))); q2.processAllAvailable()
        assert(spark.table("refresh_env_out2").select("_n")
            .as[Double].head() == 12.0,
          "a freshly-started stream must see every write")
      } finally { q2.stop(); q2.awaitTermination() }
    } finally {
      q.stop(); q.awaitTermination()
      spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
    }
  }

  test("listedTable: a running stream sees writes #1, #2 and #3; the same stream over spark.table freezes after #1") {
    val tbl = "graft_spec_refresh_listed"
    Bucketing.writeTable(Seq((10L, 100L)).toDF("n_docs", "total_dl"), tbl)
    def statsSide(t: org.apache.spark.sql.DataFrame) =
      t.agg(sum("n_docs").cast("double").as("_n")).withColumn("_k", lit(1))
    def start(side: org.apache.spark.sql.DataFrame, id: Int, name: String) = {
      val ms = new MemoryStream[(Long, Timestamp)](id, spark, None)
      val q = ms.toDF().toDF("id", "ts").withColumn("_k", lit(1))
        .join(broadcast(statsSide(side)), "_k").select("id", "_n")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      (ms, q)
    }
    val (rawIn, raw) = start(spark.table(tbl), 86, "refresh_raw_out")
    val (listedIn, listed) =
      start(Bucketing.listedTable(spark, tbl), 87, "refresh_listed_out")
    // the `_n` each stream computes for a row sent now
    def seen(id: Long): (Double, Double) = {
      Seq(rawIn -> raw, listedIn -> listed).foreach { case (in, q) =>
        in.addData(Seq((id, ts(id.toInt)))); q.processAllAvailable()
      }
      def n(out: String) = spark.table(out).filter(col("id") === id)
        .select("_n").as[Double].head()
      (n("refresh_raw_out"), n("refresh_listed_out"))
    }
    def append(n: Long): Unit = Bucketing.appendTable(
      Seq((n, n * 10)).toDF("n_docs", "total_dl"), tbl)
    try {
      assert(seen(1L) == ((10.0, 10.0)))
      append(5L)
      assert(seen(2L) == ((15.0, 15.0)), "write #1: both see it")
      append(-3L)
      assert(seen(3L) == ((15.0, 12.0)),
        "write #2: spark.table is frozen, the listed read is not")
      append(100L)
      assert(seen(4L) == ((15.0, 112.0)),
        "write #3: spark.table is frozen, the listed read is not")
    } finally {
      Seq(raw, listed).foreach { q => q.stop(); q.awaitTermination() }
      spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
    }
  }
}
