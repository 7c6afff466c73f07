package graft

import org.apache.spark.sql.SparkSession

/** The one session profile: Bench, Verify, the test fixture, Golden and
  * every dev main build their session here, so the correctness gate and
  * the suite run exactly the config that is benchmarked.
  *
  * The three AQE values are the production form a cluster would ship:
  *  - `initialPartitionNum=256` over-provisions the pre-coalesce shuffle
  *    partition count and lets AQE coalesce to the data (r16 verdict
  *    item 2). A fixed count equal to the core count becomes
  *    per-reducer spill the moment data outgrows the fixture: q21's 100×
  *    slope read 13.8 pinned at 32 partitions vs 3.9 once partitions
  *    scale (SCALE.md, rounds 16 and 17). `shuffle.partitions = cores`
  *    stays as the non-AQE fallback.
  *  - `parallelismFirst=false` coalesces to the advisory partition size
  *    instead of 1 MB-per-core minimums. r21 measured the flip: two
  *    order-rotated full-bench pairs both read ~10-13% faster batch
  *    subtotals, calibration-normalized (OPTIMIZATION_r21.md), and the
  *    mini-partition flood it avoids is the §2.2 shuffle-block explosion.
  *  - `advisoryPartitionSizeInBytes=64MB` is that advisory size.
  *
  * `nanosAsLong` is back-compat for the legacy ns-precision events
  * fixture; the current µs TIMESTAMP_NTZ fixture ignores it
  * (graft.Tables.events). */
object Sessions {

  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  lazy val Cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cores]` with the shipped profile; `conf` is layered on top. */
  def build(cores: Int = Cores, conf: Map[String, String] = Map.empty): SparkSession = {
    val profile = Map(
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "256",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64MB",
      "spark.ui.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true")
    val spark = (profile ++ conf)
      .foldLeft(SparkSession.builder().master(s"local[$cores]")) {
        case (b, (k, v)) => b.config(k, v)
      }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
