package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}

/** Random-hyperplane LSH over the embedding column — the scale path for
  * cosine-based operations (the brute-force baseline is
  * `VectorOps.simTopkCosine`, which is probe-vs-all linear; all-pairs
  * exact cosine would be O(n²) and is deliberately not shipped).
  *
  * Determinism: hyperplanes come from a fixed-seed java.util.Random,
  * carried into the plan as constants of the fused bucket expression
  * ([[graft.functions.FloatVecLshBuckets]]) — identical across runs,
  * partitions, and cluster layouts.
  *
  * Tuning note (matters at 100 TB): bits-per-table should grow with
  * log(n) so bucket occupancy stays bounded; BitsPerTable/NumTables are
  * sized for recall ~0.6 at cosine 0.45 on the test corpus. Recall is
  * probabilistic by design — the contract (EmbedLshSpec) is 100%
  * precision after exact verification and 100% recall on exact
  * duplicates.
  */
object EmbedLsh {
  val Dim = 64
  val BitsPerTable = 6
  val NumTables = 12
  val CosineThreshold = 0.4

  /** [table][bit][dim] — seeded Gaussian hyperplanes. */
  lazy val planes: Array[Array[Array[Double]]] = {
    val rnd = new java.util.Random(42)
    Array.fill(NumTables, BitsPerTable, Dim)(rnd.nextGaussian())
  }

  /** All NumTables bucket ids in one fused pass — the custom codegen
    * expression [[graft.functions.FloatVecLshBuckets]] (the declarative
    * `aggregate(zip_with(...))` formulation it replaced needed 72
    * interpreted higher-order folds per row and dominated the bench). */
  def bucketsCol(emb: Column): Column =
    graft.functions.LshFunctions.vec_lsh_buckets(emb, planes)

  /** (vec_id, table_id, bucket) — ids only: the banded rows that flow
    * through the candidate join carry no vectors, so the 12-way explode
    * and the shuffle stay narrow; vectors are joined back only for the
    * (much smaller) verification step. */
  private def withBuckets(df: DataFrame): DataFrame =
    df.select(col("vec_id"), posexplode(bucketsCol(col("embedding"))))
      .toDF("vec_id", "table_id", "bucket")

  private def cosine(a: Column, b: Column): Column =
    VectorOps.dot(a, b) / (VectorOps.l2Norm(a) * VectorOps.l2Norm(b))

  /** `dedup_embed_cosine`: near-duplicate vector pairs — LSH bucket join
    * for candidates, exact cosine verification. No SQL oracle
    * (probabilistic recall); property-tested instead. */
  def dedupEmbedCosine(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir).select($"vec_id", $"embedding")
    // materialize the banded id table once — both candidate join sides
    // consume it (hyperplane hashing ×2 otherwise)
    val banded = Materialize.reuse(withBuckets(emb))
    val a = banded.select($"vec_id".as("vec_a"), $"table_id", $"bucket")
    val b = banded.select($"vec_id".as("vec_b"), $"table_id", $"bucket")
    val pairs = a.join(b, Seq("table_id", "bucket"))
      .filter($"vec_a" < $"vec_b")
      .select($"vec_a", $"vec_b")
      .dropDuplicates("vec_a", "vec_b")
    // vectors + precomputed norms join back only for verified candidates;
    // UNHINTED equi-joins: a one-row-per-id vector table is not
    // broadcast-bounded (TB-scale at 100 TB), so AQE picks the strategy —
    // broadcast at small scale, shuffled hash join at scale.
    val withNorm = emb.select($"vec_id", $"embedding",
      VectorOps.l2Norm($"embedding").as("nrm"))
    pairs
      .join(withNorm.select($"vec_id".as("vec_a"), $"embedding".as("emb_a"), $"nrm".as("nrm_a")), "vec_a")
      .join(withNorm.select($"vec_id".as("vec_b"), $"embedding".as("emb_b"), $"nrm".as("nrm_b")), "vec_b")
      .select($"vec_a", $"vec_b",
        (VectorOps.dot($"emb_a", $"emb_b") / ($"nrm_a" * $"nrm_b")).as("cos_raw"))
      .filter($"cos_raw" >= CosineThreshold)
      .select($"vec_a", $"vec_b", round($"cos_raw", 4).as("cos_sim"))
      .orderBy($"vec_a", $"vec_b")
  }

  /** The XOR masks the [[simAnnLsh]] probe fans out over: the exact
    * bucket plus every Hamming-1 single-bit flip. Probe-side only, so the
    * fan-out costs nothing at index time or in the banded shuffle (a
    * broadcast of (1 + 6) × 12 = 84 rows). Radius 1 is golden-pinned at
    * the gate scales; what radius 2 recovers on a clustered corpus is
    * recorded in SCALE.md r20. */
  private[graft] val probeMasks: Seq[Int] = 0 +: (0 until BitsPerTable).map(b => 1 << b)

  /** `sim_ann_lsh`: approximate top-10 neighbours of probe vec_id=0 —
    * candidates share at least one LSH bucket with the probe, ranked by
    * exact cosine. The ANN counterpart of the exact `sim_topk_cosine`. */
  def simAnnLsh(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir).select($"vec_id", $"embedding")
    // materialize the banded id table once — both candidate join sides
    // consume it (hyperplane hashing ×2 otherwise)
    val banded = Materialize.reuse(withBuckets(emb))
    // Multi-probe (Lv et al., VLDB'07): probe the exact bucket PLUS every
    // Hamming-1 perturbation (flip each of the BitsPerTable sign bits).
    // Only the probe side fans out — (1+bits)×tables ≈ 84 broadcast rows —
    // the indexed side and its shuffle are untouched, so the recall lift
    // (measured 4-7/10 → see DevRecall) costs nothing at scale: this is
    // exactly the trick that lets a 100 TB index keep FEWER tables (less
    // index storage) at equal recall.
    val flipMasks = array(probeMasks.map(lit): _*)
    val probe = banded.filter($"vec_id" === 0)
      .select($"table_id", explode(flipMasks).as("mask"), $"bucket")
      .select($"table_id", $"bucket".bitwiseXOR($"mask").as("bucket"))
    val candidates = banded.filter($"vec_id" =!= 0)
      .join(broadcast(probe), Seq("table_id", "bucket"))
      .select($"vec_id").dropDuplicates("vec_id")
    val probeEmb = emb.filter($"vec_id" === 0).select($"embedding".as("probe_emb"))
    candidates
      .join(emb, "vec_id") // candidate ids are the small side; AQE broadcasts
      .crossJoin(broadcast(probeEmb))
      .select($"vec_id", cosine($"embedding", $"probe_emb").as("cos_raw"))
      .orderBy($"cos_raw".desc, $"vec_id")
      .limit(10)
      .select($"vec_id", round($"cos_raw", 4).as("cos_sim"))
  }
}
