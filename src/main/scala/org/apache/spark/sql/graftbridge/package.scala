package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column <-> Expression bridge for custom Catalyst expressions.
  * Spark 4 wraps Column around ColumnNode and made the direct constructors
  * private[sql]; this is the standard extension-library pattern for exposing
  * a native Expression as a user-facing Column without a UDF.
  */
package object graftbridge {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** True when no Dataset.persist cache entries remain (CacheManager state;
    * unlike `sc.getPersistentRDDs` it ignores localCheckpoint blocks).
    * Test-support seam for cache-hygiene assertions. */
  def noCachedPlans(spark: SparkSession): Boolean =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.isEmpty

  /** Bounded top-k aggregate (Catalyst's CollectTopK, private[aggregate] —
    * the engine behind pandas-on-Spark nlargest, reached via a same-package
    * shim): each partition keeps at most k elements in a bounded priority
    * queue and partials MERGE, so a grouped top-k shuffles k rows per
    * (group, partition) instead of the whole group. `reverse = false` keeps
    * the LARGEST k by the child's ordering — the bounded queue evicts its
    * minimum, retaining the top — and `reverse = true` keeps the SMALLEST k
    * (probed empirically AND in the 4.1.2 bytecode; struct children order
    * lexicographically by field). Result array is unsorted — sort_array it. */
  def collectTopK(c: Column, k: Int, reverse: Boolean): Column =
    toColumn(catalyst.expressions.aggregate.GraftTopKShim.collectTopK(
      toExpression(c), k, reverse))

  /** `s` with every field nullable, nested ones included — what a file
    * source's `DataSource` makes of a data schema (`asNullable` is
    * private[spark]). */
  def asNullable(s: types.StructType): types.StructType = s.asNullable
}
