package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Session and engine staging, as `graft.Bench` does them before its first
  * timed query. */
object Setup {
  /** `graft.Bench`'s session config, with every scratch directory inside
    * the benchmark's work dir. */
  def session(cores: Int, work: String): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "256")
    .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .getOrCreate()

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Runs one named set-up step against `sfDir`. */
  def step(name: String, spark: SparkSession, sfDir: String, work: String): Unit = name match {
    case "event_log" => graft.cdc.StreamingLatest.stagedEventLog(spark, sfDir)
    case "catalog" =>
      graft.cdc.CatalogDdl.registerStarSchema(spark, sfDir)
      graft.cdc.CatalogDdl.TableNames.foreach { t =>
        spark.sql(s"SELECT count(*) FROM ${graft.cdc.CatalogDdl.Database}.$t").collect()
      }
      spark.sql("SELECT :x AS x", Map[String, Any]("x" -> 1)).collect()
    case "warmup" => warmup(spark, sfDir, work)
  }

  /** `graft.Bench`'s codegen and streaming warm-up: first use of the
    * custom expressions, the collated aggregate, the parquet writer and
    * the streaming planner and state store. */
  private def warmup(spark: SparkSession, sfDir: String, work: String): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(work, "tmp")), "warmup")
    try {
      val region = spark.read.parquet(s"$sfDir/region.parquet")
      region.count()
      region.limit(1).write.mode("overwrite").parquet(s"$dir/wu.parquet")
      val one = spark.range(1).selectExpr("'a b c d e f' AS text",
        "CAST(array(0.1, 0.2) AS ARRAY<FLOAT>) AS v")
      val sh = graft.functions.ShingleFunctions.word_shingle_hashes(col("text"), 3)
      one.select(
        graft.functions.ArrayFunctions.sorted_intersect_count(sh, sh).as("i"),
        graft.functions.VecFunctions.vec_dot(col("v"), col("v")).as("d"),
        graft.functions.VecFunctions.vec_norm_sq(col("v")).as("n"))
        .collect()
      one.select(explode(sh).as("h"))
        .select(graft.functions.MinHashFunctions.minhash_agg(col("h"), 32).as("m"),
          graft.functions.SimHashFunctions.simhash_agg(col("h")).as("v"))
        .collect()
      one.groupBy(expr("collate(text, 'UTF8_LCASE')").as("k")).agg(count(lit(1))).collect()
      spark.readStream.schema(region.schema).parquet(s"$dir/wu.parquet")
        .dropDuplicates()
        .writeStream.format("noop").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$dir/ckpt").start().awaitTermination()
      val ev = graft.Tables.events(spark, sfDir).select(col("user_id"), col("ts")).limit(4)
      ev.write.mode("overwrite").parquet(s"$dir/ev.parquet")
      spark.readStream.schema(ev.schema).parquet(s"$dir/ev.parquet")
        .withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)))
        .writeStream.outputMode("append").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$dir/ckpt2")
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(s"$dir/wout.parquet")
        }
        .start().awaitTermination()
    } finally graft.StageDirs.rm(dir)
  }

  /** `graft.Bench`'s fixed calibration probe (min of two), a box-speed
    * anchor that does not depend on the inputs. */
  def calibS(spark: SparkSession): Double = {
    def probe(): Double = {
      val t0 = System.nanoTime()
      spark.range(1L << 24).select(xxhash64(col("id")).as("h"))
        .groupBy(pmod(col("h"), lit(1024)).as("g")).agg(sum(col("h"))).count()
      (System.nanoTime() - t0) / 1e9
    }
    math.min(probe(), probe())
  }
}
