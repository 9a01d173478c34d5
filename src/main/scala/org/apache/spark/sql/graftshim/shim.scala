package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` Column ↔ Expression converters.
  *
  * Spark 4 hides the classic Column constructor behind
  * `org.apache.spark.sql.classic.ExpressionUtils`; extension libraries that
  * define native Catalyst expressions (see `graft.functions`) need exactly
  * these two entry points. Living in `org.apache.spark.sql` scope is the
  * standard pattern for Spark-native extension code (cf. public projects like
  * qbeast/spark-excel that do the same).
  */
package object graftshim {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Build a DataFrame from a custom LogicalPlan (Dataset.ofRows is
    * private[sql]) — needed by graft.plans' custom operators. */
  def ofRows(spark: SparkSession, plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Build a DataFrame over an RDD of Catalyst rows of `schema`
    * (internalCreateDataFrame is private[sql]) — needed by the store's
    * positional walk, whose reader already yields InternalRows. */
  def internalDataFrame(spark: SparkSession,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** V2 Predicate → V1 Filter conversion (PredicateUtils is private[sql])
    * — needed by the row-level scan's runtime group filtering to feed
    * dynamic IN predicates into the manifest-stats skipper. */
  def predicatesToV1(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Array[org.apache.spark.sql.sources.Filter] =
    internal.connector.PredicateUtils.toV1(predicates)

  /** The session's CatalogManager (`sessionState.catalogManager` is
    * private[sql]) — needed by the view-SQL parser layer to resolve which
    * catalog a multi-part name targets. */
  def catalogManager(spark: SparkSession): connector.catalog.CatalogManager =
    spark.sessionState.catalogManager

  /** Is `name` a session-local temporary view? (SessionCatalog is
    * private[sql]-reachable only) — the view substitution must never
    * shadow one. */
  def isTempView(spark: SparkSession, nameParts: Seq[String]): Boolean =
    spark.sessionState.catalog.isTempView(nameParts)
}
