package graft.plans

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graftbridge.Bridge

/** The one way to materialize an intermediate whose size decides a plan.
  *
  * `Materialize(df)` is `df.localCheckpoint(eager = true)` with a row
  * count observed by the same job, re-wrapped so the checkpoint's
  * statistics are its real size (rows × the planner's row width). A plain
  * checkpoint keeps the size estimate of the plan it replaced, which after
  * a join is off by orders of magnitude, so the planner never broadcasts
  * it. With real sizes, Catalyst's `JoinSelection` picks a broadcast or a
  * shuffled join against `spark.sql.autoBroadcastJoinThreshold`, and
  * setting the threshold to -1 forces the shuffled shape everywhere.
  * Callers that need a number (Bloom filter sizing, a loop's remaining rows)
  * read it with [[rowCount]]; no `count()` job is run.
  */
object Materialize {
  def apply(df: DataFrame): DataFrame = {
    val observed = Observation()
    val cp = df.observe(observed, count(lit(1)).as("rows")).localCheckpoint(eager = true)
    Bridge.withRowCount(cp, observed.get("rows").asInstanceOf[Long])
  }

  /** The exact row count of a frame returned by [[apply]]. */
  def rowCount(m: DataFrame): Long = m.queryExecution.logical match {
    case lr: LogicalRDD if lr.stats.rowCount.isDefined => lr.stats.rowCount.get.toLong
    case _ => throw new IllegalArgumentException("rowCount needs a frame returned by Materialize")
  }

  /** The planner's size of `df` in bytes is within the broadcast
    * threshold: Spark's own rule for "small enough to ship whole", never
    * true at -1. The catalog's driver-side read and write paths decide
    * with it too.
    */
  def small(df: DataFrame): Boolean =
    fits(df.sparkSession, df.queryExecution.optimizedPlan.stats.sizeInBytes)

  /** `bytes` is within the broadcast threshold: the rule of [[small]] for
    * a size known without a plan (a file just written).
    */
  def fits(spark: SparkSession, bytes: BigInt): Boolean = {
    val limit = spark.sessionState.conf.autoBroadcastJoinThreshold
    limit >= 0 && bytes <= limit
  }
}
