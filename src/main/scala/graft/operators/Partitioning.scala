package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange

/** Explicit-N repartition: single-file parquet scans arrive as ONE
  * partition, and an N-less `repartition(col)` is coalesced back to one
  * task by AQE on small data — an explicit N is respected. One shared
  * helper so the parallelism workaround cannot drift per operator. */
object Partitioning {

  /** The session's target parallelism for the spread helpers — one
    * accessor so Dataset call sites cannot drift from the DataFrame
    * spelling (r20 advisor). */
  def numPartitions(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions", "32").toInt

  def spread(df: DataFrame, c: Column): DataFrame =
    df.repartition(numPartitions(df.sparkSession), c)

  /** Scan-aware spread (r20 verdict): repartition ONLY when `df` would
    * otherwise execute on fewer partitions than the session's
    * parallelism — the one-huge-unsplittable-input skew (guide §2.5),
    * which in this bench is the single-file parquet scan. At 100 TB the
    * source is thousands of splits, the gate sees >= n partitions, and
    * this is the identity — the full payload is never exchanged just to
    * "add parallelism" it already has.
    *
    * `df` must be shuffle-free (every call site passes the `documents`
    * scan): the partition count comes from its physical plan, which for
    * a narrow plan runs no job. An input with an exchange fails fast —
    * under AQE, counting its partitions would materialize its query
    * stages, running jobs whose output the returned frame does not
    * reuse. */
  def spreadIfNarrow(df: DataFrame, c: Column): DataFrame = {
    val n = numPartitions(df.sparkSession)
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    require(plan.collectFirst { case e @ (_: Exchange | _: QueryStageExec) => e }.isEmpty,
      s"spreadIfNarrow needs a shuffle-free input, got:\n$plan")
    if (plan.execute().getNumPartitions < n) df.repartition(n, c) else df
  }
}
