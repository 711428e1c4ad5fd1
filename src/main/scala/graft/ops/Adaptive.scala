package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.PlanExpression
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Scale-adaptive parallelism compensation for compute-heavy scans.
  *
  * A scan's task count comes from the file layout (splits of
  * `spark.sql.files.maxPartitionBytes`), not from the cost of the expressions
  * evaluated over it: a small single-file table yields ONE task, so a
  * signature / regex / dot-product pass over it runs on one core while the
  * rest of the cluster idles. At production scale inputs carry far more
  * splits than the cluster has slots and [[spread]] is a no-op — the
  * condition derives from the plan's leaves, never a constant
  * tuned for one deployment (spark_optimization_guide §2: partitioning must
  * be scale-adaptive).
  */
object Adaptive {

  /** `df` with at least `defaultParallelism` partitions: a round-robin
    * repartition when the current plan yields fewer, `df` unchanged
    * otherwise (and always unchanged for streaming frames, whose
    * partitioning is the micro-batch engine's business). The explicit
    * partition count keeps AQE from coalescing the exchange back below the
    * core count — coalescing targets bytes, and a compute-heavy projection
    * over few bytes is exactly the case this exists for. Row values are
    * untouched; callers must be row-order-independent (every graft operator
    * output is — aggregates, joins, or sorted-array builds).
    *
    * Call it on a NARROW projection (just the columns the heavy compute
    * needs) so the exchange carries keys and text, not the whole row —
    * guide §2.3, project before the exchange. */
  def spread(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    val current = leafPartitions(df.queryExecution.sparkPlan)
    if (current > 0 && current < target) df.repartition(target) else df
  }

  /** The widest leaf's partition count, read off the physical plan without
    * running it (`df.rdd` would build the adaptive plan and eagerly execute
    * every upstream shuffle stage just to throw the work away). Exchanges
    * above the leaves are looked through: under AQE their post-coalesce
    * count follows the bytes the leaves feed them, so a narrow leaf means a
    * narrow frame either way. 0 when no leaf's count is known (no spread). */
  private def leafPartitions(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => leafPartitions(a.inputPlan)
    case m: InMemoryTableScanExec => leafPartitions(m.relation.cachedPlan)
    // dynamic partition-pruning filters are resolved by a subquery job at
    // execution — their scan's split count is unknown until then
    case f: FileSourceScanExec =>
      if (f.partitionFilters.exists(_.exists(_.isInstanceOf[PlanExpression[_]]))) 0
      else f.inputRDD.getNumPartitions
    case r: RDDScanExec => r.rdd.getNumPartitions
    case l: LocalTableScanExec => l.inputRDD.getNumPartitions
    case p if p.children.isEmpty => p.outputPartitioning.numPartitions
    case p => p.children.map(leafPartitions).max
  }
}
