package org.apache.spark.sql.graftshim

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{DataSource, FileFormat, FileIndex, HadoopFsRelation, InMemoryFileIndex, LogicalRelation, PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, GraftShims, Row, SparkSession, classic}

/** A catalog table read whose file listing belongs to each query plan,
  * not to the DataFrame: the table's V1 `HadoopFsRelation` built from
  * its catalog entry (schema, bucket spec, format, options, and
  * `catalogTable`, so `StreamPlans.staticTables` still names it) over a
  * [[FileIndex]] that lists the table directory on every `listFiles`.
  * A streaming query plans each micro-batch afresh, so each batch scans
  * the files present when it is planned. `spark.table` resolves a
  * relation whose listing is fixed at resolution (a later write
  * refreshes it in place at most once, then evicts it from the relation
  * cache). It lives beside [[StreamPlans]] because it builds on
  * Spark's internal planning surface (`sessionState`, `LogicalRelation`,
  * `Dataset.ofRows`). Non-partitioned tables only.
  *
  * [[onDriver]] reads a small table's rows with the same listing and
  * the table's own file reader, in the calling thread: no Spark job.
  */
object ListedTable {

  /** A catalog table's entry, its location, read options and V1 file
    * format (file sources' V2 classes fall back to it, as in
    * `FindDataSourceTable`). */
  private final case class Resolved(table: CatalogTable, root: Path,
      options: Map[String, String], format: FileFormat)

  private def resolve(spark: SparkSession, name: String): Resolved = {
    val state = spark.asInstanceOf[classic.SparkSession].sessionState
    val table = state.catalog.getTableMetadata(
      state.sqlParser.parseTableIdentifier(name))
    require(table.partitionColumnNames.isEmpty,
      s"$name: a listed read supports non-partitioned tables only")
    val root = new Path(table.location)
    Resolved(table, root, table.storage.properties + ("path" -> root.toString),
      DataSource(spark, className = table.provider.get)
        .providingInstance().asInstanceOf[FileFormat])
  }

  private def listing(spark: SparkSession, r: Resolved) =
    new InMemoryFileIndex(spark, Seq(r.root), r.options, None)

  def read(spark: SparkSession, name: String): DataFrame = {
    val r = resolve(spark, name)
    val relation = HadoopFsRelation(new Listing(spark, r),
      new StructType(), r.table.dataSchema.asNullable, r.table.bucketSpec,
      r.format, r.options)(spark)
    GraftShims.ofRows(spark, LogicalRelation(relation, r.table))
  }

  /** Lists the table directory afresh on every call (no
    * `FileStatusCache`). */
  private final class Listing(spark: SparkSession, r: Resolved)
      extends FileIndex {
    private def now = listing(spark, r)
    override def rootPaths: Seq[Path] = Seq(r.root)
    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      now.listFiles(partitionFilters, dataFilters)
    override def inputFiles: Array[String] = now.inputFiles
    override def sizeInBytes: Long = now.sizeInBytes
    override def refresh(): Unit = ()
    override def partitionSchema: StructType = new StructType()
  }

  /** A table's data schema (nullable, as `spark.table` reports it) and
    * its rows, as [[onDriver]] read them. */
  final case class DriverRows(schema: StructType, rows: Seq[Row])

  /** The decoded rows of one table root's files, by (path, length,
    * modification time). */
  private final case class Decoded(schema: StructType,
      files: Map[(String, Long, Long), Seq[Row]])

  private val decoded = new java.util.concurrent.ConcurrentHashMap[String, Decoded]()

  /** Tables whose decoded files are kept; past it the cache starts over. */
  private val MaxTables = 256

  /** Whether catalog table `name` exists (the session catalog's own
    * check, without the public catalog API's name resolution). */
  def exists(spark: SparkSession, name: String): Boolean = {
    val state = spark.asInstanceOf[classic.SparkSession].sessionState
    state.catalog.tableExists(state.sqlParser.parseTableIdentifier(name))
  }

  /** The rows of catalog table `name`, read in the calling thread: the
    * files a `spark.table` scan would read (the [[read]] listing), each
    * decoded by the table's V1 file reader (Spark's `ParquetFileFormat`
    * for parquet) into external [[Row]]s. No Spark job runs, so this is
    * for small side tables only. A file the reader cannot decode fails
    * the call naming the table and the file.
    *
    * The listing is taken on every call; the decoding is not. A
    * committed data file never changes under one path, length and
    * modification time (a write commits new, uniquely named files; an
    * overwrite deletes the directory first), so each file is decoded
    * once and its rows kept under the table's root until a read of that
    * table no longer lists it. A call that finds every file decoded
    * builds no reader at all. */
  def onDriver(spark: SparkSession, name: String): DriverRows = {
    val r = resolve(spark, name)
    val schema = r.table.dataSchema.asNullable
    val root = r.root.toString
    val before = Option(decoded.get(root)).filter(_.schema == schema)
      .map(_.files).getOrElse(Map.empty)
    lazy val reader = {
      // row-at-a-time output: a scan plans its own batch-or-row choice
      // (parquet refuses to guess, so the option is always set)
      val options = r.options + (FileFormat.OPTION_RETURNING_BATCH -> "false")
      val state = spark.asInstanceOf[classic.SparkSession].sessionState
      r.format.buildReaderWithPartitionValues(spark, schema, new StructType(),
        schema, Nil, options, state.newHadoopConfWithOptions(options))
    }
    lazy val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    val now = listing(spark, r).listFiles(Nil, Nil).flatMap(_.files).map { f =>
      val st = f.fileStatus
      val key = (st.getPath.toString, st.getLen, st.getModificationTime)
      key -> before.getOrElse(key, decode(name, PartitionedFile(
        InternalRow.empty, SparkPath.fromFileStatus(st), 0L, st.getLen,
        Array.empty[String], st.getModificationTime, st.getLen), reader,
        toRow(_).asInstanceOf[Row]))
    }
    if (decoded.size >= MaxTables) decoded.clear()
    decoded.put(root, Decoded(schema, now.toMap))
    DriverRows(schema, now.flatMap(_._2))
  }

  private def decode(name: String, file: PartitionedFile,
      reader: PartitionedFile => Iterator[InternalRow],
      toRow: InternalRow => Row): Seq[Row] = {
    var it: Iterator[InternalRow] = Iterator.empty
    try {
      it = reader(file)
      val rows = Vector.newBuilder[Row]
      while (it.hasNext) rows += toRow(it.next())
      rows.result()
    } catch {
      case scala.util.control.NonFatal(e) =>
        throw new IllegalStateException(s"$name: cannot read " +
          s"${file.filePath} (${e.getClass.getSimpleName}: ${e.getMessage})", e)
    } finally it match {
      case c: java.io.Closeable => c.close()
      case _ =>
    }
  }
}
