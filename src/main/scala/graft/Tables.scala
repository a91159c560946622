package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * All tables are plain parquet; `events.ts` is written as
  * parquet TIMESTAMP(NANOS) which Spark cannot read as a timestamp —
  * sessions must set `spark.sql.legacy.parquet.nanosAsLong=true`
  * (see [[Sessions.builder]]) and [[events]] converts the resulting
  * nanosecond long to a microsecond TimestampType column (truncating,
  * which matches DuckDB's ns→µs truncation on read).
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** `events` with `ts` normalized to a µs TimestampType column.
    * The driver has shipped this file with two physical types so far:
    * TIMESTAMP(NANOS) (reads as a ns long under nanosAsLong — rounds
    * ≤8) and TIMESTAMP(MICROS, isAdjustedToUTC=false) (reads as
    * TIMESTAMP_NTZ — r9 regeneration). Both normalize to the same UTC
    * instant here (session tz is pinned UTC), so every downstream
    * consumer — unix_micros, window(), watermarks — sees one type
    * regardless of which generation of the file is on disk. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    import org.apache.spark.sql.types.{LongType, StructField, StructType,
      TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType => // nanosAsLong path: ns long → µs timestamp (floor)
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // Naive µs → the same UTC instant (session tz is pinned UTC).
        // Do it by overriding the read schema rather than wrapping the
        // column in cast(ntz AS timestamp): the cast is an opaque
        // expression to the parquet source, so `ts >= …` range filters
        // would never reach PushedFilters and a 100-TB events scan
        // would read every row group. With the forced TimestampType
        // schema the column IS a timestamp at the scan, and range
        // predicates prune row groups natively (PlanShapeSpec pins it).
        val forced = StructType(raw.schema.map {
          case StructField("ts", _, n, m) =>
            StructField("ts", TimestampType, n, m)
          case f => f
        })
        s.read.schema(forced).parquet(s"$d/events.parquet")
      case _ => raw
    }
  }
}

/** One place to build correctly-configured sessions (UTC, AQE, ns-long),
  * with the engine's native expressions (graft_dot / graft_cosine / …)
  * and the range-join optimizer rule injected via
  * SparkSessionExtensions, and the engine's `file:` filesystem
  * ([[graft.core.LocalFs]]) under both Hadoop APIs. */
object Sessions {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions { e =>
        graft.functions.VectorExpressions.inject(e)
        graft.plans.RangeJoinRule.inject(e)
        graft.plans.VectorKernelRule.inject(e)
        graft.plans.AsofMergeJoinStrategy.inject(e)
      }
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft-warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.core.LocalFs.FileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.core.LocalFs.Context].getName)
}
