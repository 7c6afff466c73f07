package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** One shared local session for all suites (Spark startup is ~5s; per-suite
  * sessions would dominate test time). The shipped profile on a fixed 4
  * cores, with the warehouse under the checkout's `target/`. */
object SparkFixture {
  lazy val spark: SparkSession = Sessions.build(4,
    Map("spark.sql.warehouse.dir" -> StageDirs.target("warehouse").toString))
  val Sf = "/root/testdata/sf0.001"

  private object Plans extends AdaptiveSparkPlanHelper

  /** Partition counts of the shuffles `df` ran (call after an action on
    * it): each exchange's pre-coalesce count, then each AQE read's
    * coalesced count. */
  def shuffleShape(df: DataFrame): (Seq[Int], Seq[Int]) = {
    val plan = df.queryExecution.executedPlan
    (Plans.collect(plan) { case e: ShuffleExchangeLike => e.numPartitions },
      Plans.collect(plan) { case r: AQEShuffleReadExec => r.partitionSpecs.size })
  }
}
