package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Deterministic M× replicas of a fixture's `embeddings` table for the
  * ANN recall and occupancy specs. Replica i shifts `vec_id` by
  * i × 1,000,000; replica 0 stays byte-identical to the source, so the
  * probe (vec_id 0) and the IVF seed centroids (vec_id < 16) keep their
  * base geometry. All noise is hash-seeded from (vec_id, dim): no RNG
  * state, so a rebuild is identical. */
object Replicas {

  /** Per-coordinate jitter amplitude. The verbatim replica clones vectors
    * exactly, so the M× ground-truth top-k is clone-dominated and recall
    * only proves routing consistency. At amp 0.05 on the unit-norm 64-dim
    * fixture a clone sits at cosine ≈ 0.975 to its parent, so the exact
    * top-10 is a ranking the index must discriminate. */
  val JitterAmp = 0.05

  /** ε-jittered replica: every replica but 0 perturbs each coordinate
    * with a uniform draw in ±[[JitterAmp]] (murmur3 of vec_id and dim). */
  def jitterReplica(spark: SparkSession, srcDir: String, outDir: String, m: Int): Unit = {
    val src = spark.read.parquet(s"$srcDir/embeddings.parquet")
    (0 until m).map { i =>
      val shifted = src.withColumn("vec_id", col("vec_id") + lit(i * 1000000L))
      if (i == 0) shifted
      else shifted.withColumn("embedding", expr(
        s"""transform(embedding, (x, d) ->
           |  CAST(x + $JitterAmp * ((pmod(hash(vec_id, d), 2001) - 1000) / 1000.0)
           |       AS FLOAT))""".stripMargin))
    }.reduce(_.union(_))
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }

  /** Number of mixture clusters in the clustered replica, and the blend
    * weight pulling each replicated vector toward its cluster centroid.
    * 8 clusters over a 16-centroid IVF index is the occupancy-skew
    * regime: at 100× roughly 99% of the corpus mass sits in 8 clumps, so
    * several IVF lists are overloaded while others are near-empty, and
    * LSH bucket histograms are far from uniform. λ=0.5 keeps half of each
    * vector's own direction so clone rankings stay non-trivial (λ→1
    * would collapse every cluster member onto one point and recall would
    * be decided by tie-break order, not routing). */
  val MixClusters = 8
  val MixLambda = 0.5

  /** Normalizes the hash-seeded centroid to ≈unit length so [[MixLambda]]
    * blends comparable magnitudes: a coordinate uniform in ±1 has
    * E[u²] = 1/3, so the raw 64-dim centroid norm is √(64/3) ≈ 4.6 and
    * would swamp the unit-norm parent at any λ. With the scale applied,
    * within-cluster cosine lands ≈ 0.5 (the topical-cluster regime) and
    * cross-cluster ≈ 0. */
  val MixCentroidScale = math.sqrt(3.0 / 64)

  /** Mixture-clustered replica, the occupancy counterpart of
    * [[jitterReplica]]: the jittered replica keeps the corpus
    * near-uniform over index buckets, which is exactly where IVF probe
    * budgets and LSH bucket joins don't degrade. Real embedding corpora
    * concentrate topical mass, and that is where a fixed probe or band
    * count loses recall. Every replica but 0 blends each vector toward
    * one of [[MixClusters]] shared centroids (cluster =
    * pmod(hash(vec_id), K), centroid coordinate = hash-seeded uniform in
    * ±1 scaled by [[MixCentroidScale]]) plus the jitter of
    * [[jitterReplica]]. */
  def mixReplica(spark: SparkSession, srcDir: String, outDir: String, m: Int): Unit = {
    val src = spark.read.parquet(s"$srcDir/embeddings.parquet")
    (0 until m).map { i =>
      val shifted = src.withColumn("vec_id", col("vec_id") + lit(i * 1000000L))
      if (i == 0) shifted
      else shifted.withColumn("embedding", expr(
        s"""transform(embedding, (x, d) ->
           |  CAST($MixLambda * $MixCentroidScale * ((pmod(hash(pmod(hash(vec_id), $MixClusters), d, 7), 2001) - 1000) / 1000.0)
           |       + ${1 - MixLambda} * x
           |       + $JitterAmp * ((pmod(hash(vec_id, d), 2001) - 1000) / 1000.0)
           |       AS FLOAT))""".stripMargin))
    }.reduce(_.union(_))
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }
}
