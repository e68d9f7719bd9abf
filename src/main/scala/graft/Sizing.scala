package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The small-input rule, defined once: an input is SMALL when it is below
  * ~one 4 MB scan task (Spark's openCost floor) per core — below that,
  * the input's own partitioning leaves cores idle, so callers spread it
  * with one explicit exchange; at or above it they keep the input's shape.
  * UNKNOWN size always counts as large: never repartition an input that
  * could not be sized.
  */
object Sizing {

  /** Bytes per core below which an input counts as small. */
  val SmallBytesPerCore: Long = 4L * 1024 * 1024

  /** Is `bytes` below the small-input threshold for `spark`'s cores? */
  def isSmall(spark: SparkSession, bytes: BigInt): Boolean =
    bytes < BigInt(SmallBytesPerCore) * spark.sparkContext.defaultParallelism

  /** [[isSmall]] over the plan-statistics size probe: for a parquet scan
    * the file length from the already-built file index, a driver-side
    * lookup, no job. A probe failure reads as unknown and so as large (so
    * does a LogicalRDD, whose stats report `defaultSizeInBytes`).
    */
  def isSmallPlan(df: DataFrame): Boolean = {
    val bytes =
      try df.queryExecution.analyzed.stats.sizeInBytes
      catch { case scala.util.control.NonFatal(_) => BigInt(Long.MaxValue) }
    isSmall(df.sparkSession, bytes)
  }
}
