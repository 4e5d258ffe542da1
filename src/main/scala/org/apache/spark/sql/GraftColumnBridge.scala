package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the private[sql] Column <-> Expression converters — the
  * standard extension-library pattern for registering custom Catalyst
  * expressions without going through the SQL function registry. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Bucket spec of a catalog table: (numBuckets, bucketColumns), if bucketed. */
  def bucketSpec(spark: SparkSession, table: String): Option[(Int, Seq[String])] =
    spark.asInstanceOf[classic.SparkSession].sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .bucketSpec.map(bs => (bs.numBuckets, bs.bucketColumnNames))
}
