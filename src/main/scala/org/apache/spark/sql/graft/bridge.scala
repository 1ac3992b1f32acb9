package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.LogicalRDD

/** Spark-4 bridge between the public `Column` API and Catalyst `Expression`s.
  *
  * Spark 4 removed `new Column(expr)` / `col.expr`; the classic-session
  * equivalents live in `org.apache.spark.sql.classic.ExpressionUtils`, which
  * is `private[sql]` — hence this shim lives under the spark.sql package.
  * Kept minimal so the rest of the codebase never touches internals.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGER Column→Expression conversion. [[expression]] returns a lazy
    * `ColumnNodeExpression` wrapper with no children, so `transform` over it
    * is a no-op; this runs the classic converter immediately, yielding the
    * real Catalyst tree (UnresolvedAttribute leaves etc.) that rewrites can
    * walk. */
  def eagerExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** A frame over `rdd` — the rows of `origin`'s executed plan — whose
    * logical plan is a `LogicalRDD` leaf carrying `origin`'s output
    * partitioning, ordering and statistics: `Dataset.checkpoint` without
    * the checkpoint, so the plan is cut and the RDD lineage is kept. */
  def logicalRdd(rdd: RDD[InternalRow], origin: DataFrame): DataFrame = {
    val ds = origin.asInstanceOf[Dataset[_]]
    Dataset.ofRows(ds.sparkSession, LogicalRDD.fromDataset(rdd, ds, ds.isStreaming))
  }
}
