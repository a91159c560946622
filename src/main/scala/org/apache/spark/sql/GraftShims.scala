package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, InSet}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DataType, StructType}

/** Bridge into `private[sql]` surface the public API does not expose:
  * constructing a DataFrame from a hand-built LogicalPlan (the entry
  * point every custom logical operator needs — Spark's own DSL does the
  * same via `Dataset.ofRows`), a Column from a hand-built expression
  * (a literal whose type is given, not derived by reflection), an IN
  * over a driver-side value set as ONE `InSet` node, a DataFrame over
  * Catalyst rows a source decodes itself, and driver values as Catalyst
  * values. Kept to these
  * calls; everything else in the engine goes through the public API. */
object GraftShims {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** A DataFrame over an RDD of Catalyst rows of `schema`, with no
    * per-row conversion from external `Row`s. */
  def internalCreateDataFrame(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** `c IN values` with a constant-size plan: `Column.isin` makes one
    * literal child per value, which every analyzer and optimizer pass
    * walks. `values` are Catalyst values of `c`'s type. */
  def inSet(c: Column, values: Set[Any]): Column =
    column(InSet(classic.ExpressionUtils.expression(c), values))

  /** A driver value of type `dt` as the Catalyst value an expression
    * evaluated over a `dt` column sees (e.g. `String` to `UTF8String`). */
  def toCatalyst(dt: DataType): Any => Any =
    catalyst.CatalystTypeConverters.createToCatalystConverter(dt)
}
