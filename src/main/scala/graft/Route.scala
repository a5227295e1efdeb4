package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one routing rule of the cost-based routers (`AsOfJoin.auto`,
  * `WindowFeatures.groupByThenAuto`): one key-histogram probe, one skew test.
  */
object Route {

  /** `(rows, rows of the hottest key)` of `df` by `key` (nulls are one key):
    * one map-side-combined aggregation job; `(0, 0)` on empty input.
    */
  def keyStats(df: DataFrame, key: String): (Long, Long) = {
    val r = df.groupBy(col(key)).agg(count(lit(1)).as("__n"))
      .agg(sum(col("__n")), max(col("__n"))).head()
    if (r.isNullAt(0)) (0L, 0L) else (r.getLong(0), r.getLong(1))
  }

  /** The hottest key holds more than one task's fair share, so a plan
    * partitioned by the key would serialize it into one task (crossovers
    * measured by `graft.SideBench skew`, BENCH_SKEW*.json).
    */
  def skewed(stats: (Long, Long), spark: SparkSession): Boolean =
    stats._2 > stats._1 / math.max(spark.sparkContext.defaultParallelism, 1).toLong
}
