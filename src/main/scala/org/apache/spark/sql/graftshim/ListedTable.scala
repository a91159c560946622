package org.apache.spark.sql.graftshim

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{DataSource, FileFormat, FileIndex, HadoopFsRelation, InMemoryFileIndex, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession, classic}

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
  */
object ListedTable {

  def read(spark: SparkSession, name: String): DataFrame = {
    val state = spark.asInstanceOf[classic.SparkSession].sessionState
    val table = state.catalog.getTableMetadata(
      state.sqlParser.parseTableIdentifier(name))
    require(table.partitionColumnNames.isEmpty,
      s"$name: a listed read supports non-partitioned tables only")
    val root = new Path(table.location)
    val options = table.storage.properties + ("path" -> root.toString)
    // the V1 FileFormat a catalog read resolves to (file sources' V2
    // classes fall back to it, as in `FindDataSourceTable`)
    val format = DataSource(spark, className = table.provider.get)
      .providingInstance().asInstanceOf[FileFormat]
    val relation = HadoopFsRelation(new Listing(spark, root, options),
      new StructType(), table.dataSchema.asNullable, table.bucketSpec,
      format, options)(spark)
    GraftShims.ofRows(spark, LogicalRelation(relation, table))
  }

  /** Lists `root` afresh on every call (no `FileStatusCache`). */
  private final class Listing(spark: SparkSession, root: Path,
      options: Map[String, String]) extends FileIndex {
    private def now = new InMemoryFileIndex(spark, Seq(root), options, None)
    override def rootPaths: Seq[Path] = Seq(root)
    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      now.listFiles(partitionFilters, dataFilters)
    override def inputFiles: Array[String] = now.inputFiles
    override def sizeInBytes: Long = now.sizeInBytes
    override def refresh(): Unit = ()
    override def partitionSchema: StructType = new StructType()
  }
}
