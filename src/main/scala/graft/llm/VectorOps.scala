package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Materialize, Tables}

/** Vector/similarity operators over `embeddings` (64-dim float vectors).
  *
  * All arithmetic uses Spark's higher-order functions (`aggregate`,
  * `zip_with`, `transform`) — codegen'd, no UDFs. Element-wise math is
  * promoted to DOUBLE with a left-to-right fold so the oracle (DuckDB
  * list_transform/list_aggregate, same fold order) reproduces the exact
  * same IEEE sums.
  *
  * Scale notes: `sim_topk_cosine` is probe-vs-all — a broadcast of the
  * single probe row against a linear scan, i.e. embarrassingly parallel
  * with a global top-k (TakeOrderedAndProject) at the end. The all-pairs
  * variant is deliberately out of scope (SURVEY.md §4); bucketed-LSH ANN
  * lands with the MinHash family.
  */
object VectorOps {

  /** Sum of squares of a float-array column, in DOUBLE — backed by the
    * codegen'd [[graft.functions.FloatVecDot]] (bit-identical to the
    * higher-order `aggregate(transform(...))` formulation it replaced;
    * see the numerics contract there). */
  def sumSquares(arr: Column): Column = graft.functions.VecFunctions.vec_norm_sq(arr)

  def l2Norm(arr: Column): Column = sqrt(sumSquares(arr))

  /** Dot product of two float-array columns, in DOUBLE (native codegen). */
  def dot(a: Column, b: Column): Column = graft.functions.VecFunctions.vec_dot(a, b)

  /** `embed_norms`: per-label vector count + average L2 norm. The per-row
    * norm is deterministic (sequential fold); the group average goes
    * through a DECIMAL(18,8) cast so merge order can't wobble it. */
  def embedNorms(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, sfDir)
      .select($"label", l2Norm($"embedding").as("norm"))
      .groupBy($"label")
      .agg(
        count(lit(1)).as("n_vecs"),
        graft.Det.r4(sum($"norm".cast(DecimalType(18, 8))).cast(DoubleType) / count(lit(1)))
          .as("avg_norm"))
      .orderBy($"label")
  }

  /** `vec_label_centroids`: per-label mean embedding, long form
    * (label, dim, centroid) — the class-centroid computation behind
    * nearest-centroid classification and IVF training. posexplode +
    * grouped decimal average: exact, order-insensitive (floats are
    * dyadic, so the decimal cast can never land on a rounding-boundary
    * tie), and the (label, dim) shuffle is map-side combined. */
  def vecLabelCentroids(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, sfDir)
      .select($"label", posexplode($"embedding"))
      .toDF("label", "dim", "v")
      .groupBy($"label", $"dim")
      .agg(
        count(lit(1)).as("n_vecs"),
        graft.Det.r4(sum($"v".cast(DecimalType(20, 10))).cast(DoubleType) / count(lit(1)))
          .as("centroid"))
      .orderBy($"label", $"dim")
  }

  /** `vec_top_dims`: per-vector top-3 dimensions by activation — the
    * posexplode + ranked-window reshape (vector → long form with
    * ordinal) every embedding-inspection pipeline needs. Bounded to the
    * probe set (vec_id < 10); at scale the same plan runs per-partition
    * with the window keyed by vec_id, no global sort. */
  def vecTopDims(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"vec_id").orderBy($"v".desc, $"dim")
    Tables.embeddings(spark, sfDir)
      .filter($"vec_id" < 10)
      .select($"vec_id", posexplode($"embedding"))
      .toDF("vec_id", "dim", "v")
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"vec_id", $"rk", $"dim", round($"v".cast(DoubleType), 4).as("dim_value"))
      .orderBy($"vec_id", $"rk")
  }

  /** `sim_topk_cosine`: top-10 nearest neighbours of probe vec_id=0 by
    * cosine. Probe is a 1-row broadcast; ranking is on the raw cosine
    * (vec_id tie-break), output is rounded and re-sorted by vec_id so the
    * result is hash-stable. */
  /** `embed_quantize`: per-vector symmetric int8 quantization — the
    * storage/serving compression step of an embedding pipeline: scale =
    * max|v|/127, q_i = round-half-up(v_i/scale) ∈ [−127,127]. Rounding is
    * the explicit floor(x+0.5) form (identical IEEE on both engines;
    * round-half-toward-+inf). Output: the scale and quantized summary
    * stats, all per vector — embarrassingly parallel, no shuffle. */
  def embedQuantize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // casts live INSIDE each lambda (abs-scan; quantize) over the raw
    // float column — a shared transform(cast) alias would be inlined
    // once per reference into one Project (the r11-extended PlanAudit
    // rule); values are identical since float→double is exact
    val maxAbs = array_max(transform($"embedding", v => abs(v.cast(DoubleType))))
    Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding".as("v"), (maxAbs / 127.0).as("scale"))
      .filter($"scale" > 0.0)
      .select($"vec_id", graft.Det.r6s($"scale").as("scale_q"),
        transform($"v", x => floor(x.cast(DoubleType) / $"scale" + 0.5)
          .cast(IntegerType)).as("q"))
      .select($"vec_id", $"scale_q",
        aggregate($"q", lit(0L), (acc, x) => acc + x).as("q_sum"),
        array_min($"q").as("q_min"),
        array_max($"q").as("q_max"))
      .orderBy($"vec_id")
  }

  def simTopkCosine(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, sfDir)
    val probe = e.filter($"vec_id" === 0).select($"embedding".as("probe_emb"))
    e.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(probe))
      .select(
        $"vec_id",
        (dot($"embedding", $"probe_emb") /
          (l2Norm($"embedding") * l2Norm($"probe_emb"))).as("cos_raw"))
      .orderBy($"cos_raw".desc, $"vec_id")
      .limit(10)
      .select($"vec_id", round($"cos_raw", 4).as("cos_sim"))
      .orderBy($"vec_id")
  }

  /** `sim_topk_prefix`: two-stage truncated-prefix retrieval (the
    * Matryoshka-embedding serving pattern): candidates are ranked first
    * by cosine over only the LEADING 16 of 64 dims — a scan that reads
    * a quarter of the bytes (at scale the 16-dim prefix is its own
    * column/index and the full vectors never leave storage for
    * non-candidates) — then the top-100 prefix shortlist is re-ranked
    * by full-width cosine. Both stages are exact arithmetic on ordered
    * float→double accumulation, so unlike the LSH/IVF/PQ paths this
    * one has a DuckDB oracle: the gate proves the two-stage plan's
    * exact output, prefix-boundary ties and all. Output: top-10 with
    * both scores (the prefix-vs-full gap is the truncation-quality
    * signal a Matryoshka deployment monitors). */
  def simTopkPrefix(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, sfDir)
    val probe = e.filter($"vec_id" === 0)
      .select(slice($"embedding", 1, 16).as("probe_pre"),
        $"embedding".as("probe_emb"))
    val pre = e.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(probe))
      .select($"vec_id", $"embedding", $"probe_emb",
        (dot(slice($"embedding", 1, 16), $"probe_pre") /
          (l2Norm(slice($"embedding", 1, 16)) * l2Norm($"probe_pre")))
          .as("pre_raw"))
      .orderBy($"pre_raw".desc, $"vec_id")
      .limit(100)
    pre
      .select($"vec_id", $"pre_raw",
        (dot($"embedding", $"probe_emb") /
          (l2Norm($"embedding") * l2Norm($"probe_emb"))).as("cos_raw"))
      .orderBy($"cos_raw".desc, $"vec_id")
      .limit(10)
      .select($"vec_id", round($"pre_raw", 4).as("prefix_sim"),
        round($"cos_raw", 4).as("cos_sim"))
      .orderBy($"vec_id")
  }

  /** `sim_knn_join`: brute-force k-NN JOIN — for each probe vector
    * (vec_id < 5), its top-3 nearest neighbours by cosine among all other
    * vectors. The probe side is a broadcast (tiny, by construction): the
    * candidate scan streams once past every probe — linear in the corpus,
    * embarrassingly parallel, with a per-probe window top-k instead of a
    * global sort. This is the exact baseline the ANN paths (sim_ann_lsh /
    * sim_ann_ivf) approximate; at 100 TB you run those, and this shape on
    * a sampled panel to measure their recall. */
  def simKnnJoin(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(spark, sfDir)
    val probes = e.filter($"vec_id" < 5)
      .select($"vec_id".as("probe_id"), $"embedding".as("p_emb"))
    val w = Window.partitionBy($"probe_id").orderBy($"cos_raw".desc, $"cand_id")
    e.select($"vec_id".as("cand_id"), $"embedding")
      .join(broadcast(probes), $"cand_id" =!= $"probe_id")
      .select($"probe_id", $"cand_id",
        (dot($"embedding", $"p_emb") /
          (l2Norm($"embedding") * l2Norm($"p_emb"))).as("cos_raw"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= k)
      .select($"probe_id", $"rk", $"cand_id", round($"cos_raw", 4).as("cos_sim"))
      .orderBy($"probe_id", $"rk")
  }

  /** `vec_pca_power`: top principal direction of the embedding corpus by
    * THREE unrolled power iterations (v ← normalize(EᵀEv)) — the
    * whitening/compression primitive an embedding pipeline runs before
    * indexing, expressed fully relationally (the `graph_pagerank` rule:
    * fixed iteration count, integer/decimal-exact per-step arithmetic,
    * so the result is bit-identical on any engine and partitioning — a
    * float MLlib-style implementation could not be oracle-gated).
    *
    * Numerics per iteration, every reduction order-free:
    *  1. `s_i = Σ_d x_u·v_u` — 64-term LONG sums (x quantized once to
    *     micro-units, |x_u| ≤ 6·10⁵, v_u ≤ 10⁶ ⇒ no overflow), rescaled
    *     by 10⁶;
    *  2. `u_d = Σ_i x_u·s` — corpus-sized sum carried as DECIMAL(38,0)
    *     (exact at any corpus size; a LONG would overflow past ~10⁶
    *     vectors);
    *  3. normalize on the 64-row frame: max-abs rescale (double division
    *     of exactly-converted decimals), nano-quantized L2 norm via a
    *     DECIMAL sum of LONG squares, re-quantize to ppm.
    * Sign is canonicalized (Σ loadings ≥ 0) since power iteration
    * converges to ±v. The corpus is exploded/quantized ONCE and
    * localCheckpoint'd; each iteration re-joins it on `dim` (64-row
    * broadcast) and `vec_id` (equi-shuffle) — at 100 TB you'd
    * pre-partition the exploded matrix by `vec_id` and reuse it across
    * the handful of iterations, exactly this staging. */
  def pcaPower(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // intentional global window: frame is the 64-row dim vector
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val e = Tables.embeddings(spark, sfDir)
      .select($"vec_id", posexplode($"embedding").as(Seq("dim", "x")))
      .select($"vec_id", $"dim",
        floor($"x".cast(DoubleType) * 1e6 + 0.5).cast(LongType).as("x_u"))
      .transform(Materialize.reuse)
    def iterate(v: DataFrame): DataFrame = {
      val s = e.join(broadcast(v), "dim")
        .groupBy($"vec_id")
        .agg(sum($"x_u" * $"v_u").as("s_raw"))
        // subtract-remainder-then-divide: exactly divisible, so trunc
        // (Spark div) and floor (DuckDB //) agree on negative values
        .select($"vec_id",
          expr("(s_raw - (s_raw % 1000000)) div 1000000").as("s_sc"))
      e.join(s, "vec_id")
        .groupBy($"dim")
        .agg(sum(($"x_u" * $"s_sc").cast(DecimalType(38, 0))).as("u_raw"))
        .withColumn("maxu", greatest(max(abs($"u_raw")).over(wAll),
          lit(1).cast(DecimalType(38, 0))))
        .withColumn("w", $"u_raw".cast(DoubleType) / $"maxu".cast(DoubleType))
        .withColumn("wq", floor($"w" * 1e9 + 0.5).cast(LongType))
        .withColumn("n2", sum(($"wq" * $"wq").cast(DecimalType(38, 0))).over(wAll))
        .select($"dim",
          floor($"w" / (sqrt($"n2".cast(DoubleType)) / 1e9) * 1e6 + 0.5)
            .cast(LongType).as("v_u"))
    }
    val v0 = spark.range(64) // the fixture's embedding width
      .select($"id".cast(IntegerType).as("dim"), lit(125000L).as("v_u"))
    val v3 = iterate(iterate(iterate(v0)))
    v3.withColumn("flip", when(sum($"v_u").over(wAll) < 0, -1L).otherwise(1L))
      .select($"dim", ($"v_u" * $"flip").as("loading_ppm"))
      .orderBy($"dim")
  }

  val KmeansK = 8

  /** `vec_kmeans_lloyd`: fully relational Lloyd k-means over the
    * embedding corpus — the clustering step a training-data pipeline
    * runs for curation/coverage analysis (and the exact form of the
    * index-build loop IVF/PQ approximate). K = 8 seeds (vec_id < K,
    * deterministic), two unrolled assign→update iterations (the
    * `vec_pca_power` unrolling pattern), one final assignment, reported
    * as per-cluster size, min member id, within-cluster squared error
    * (µ²-unit floor-scaled) and the centroid L1 signature.
    *
    * Engine-exact by construction: vectors are quantized ONCE to
    * integer micro-units, distances are integer Σ(x−c)² (order-free
    * sums), centroid updates are truncating integer division (Spark
    * `div` ≡ DuckDB integer `//`, both round toward zero — verified,
    * including negative dim sums), so the oracle hash-matches
    * bit-for-bit — no float accumulation anywhere after the quantize.
    *
    * Scale shape: centroids are a K-row broadcast (re-derived and
    * checkpointed per iteration — the k-means shape every distributed
    * implementation uses); the corpus is touched once per iteration
    * through vec-keyed map-side work, the update is one (cid, dim)
    * shuffle of partial sums. Nothing driver-side, nothing quadratic;
    * an empty cluster simply drops out of the centroid frame (inner
    * joins on both engines). */
  def kmeansLloyd(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val K = KmeansK
    val v = Tables.embeddings(spark, sfDir)
      .select($"vec_id", expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))")
        .as("xu"))
      .transform(Materialize.reuse)
    val c0 = v.filter($"vec_id" < K)
      .select($"vec_id".cast(IntegerType).as("cid"), $"xu".as("cu"))
      .transform(Materialize.reuse)
    // nearest centroid per vector: the K-row centroid frame folded into
    // ONE array-of-(cid, cu) row and broadcast, so the assignment is a
    // per-row array_min over the K distances — MAP-ONLY. The old form
    // (K-row crossJoin fan-out + groupBy(vec_id, xu) min-of-struct)
    // re-shuffled the ENTIRE vector corpus once per assign — three
    // corpus-sized exchanges per run that a 100 TB corpus cannot afford
    // when the decision needs only a K-way compare per row. array_min
    // over struct(dist, cid) is the same lexicographic min as the old
    // min(struct(dist, cid)): smallest distance, ties to the smaller
    // cluster id — integer arithmetic unchanged, bit-identical.
    def assign(cents: DataFrame): DataFrame = {
      val panel = cents.agg(collect_list(struct($"cid", $"cu")).as("cs"))
      v.crossJoin(broadcast(panel))
        .select($"vec_id", $"xu",
          array_min(transform($"cs", c => struct(
            aggregate(zip_with($"xu", c.getField("cu"), (x, u) => (x - u) * (x - u)),
              lit(0L), (a, d) => a + d).as("dist"),
            c.getField("cid").as("cid")))).as("m"))
        .select($"vec_id", $"xu", $"m.cid".as("cid"), $"m.dist".as("dist"))
    }
    // new centroid = per-dim integer floor-mean of the members
    def update(assigned: DataFrame): DataFrame =
      assigned.select($"cid", posexplode($"xu").as(Seq("dim", "x")))
        .groupBy($"cid", $"dim")
        .agg(sum($"x").as("s"), count(lit(1)).as("n"))
        // truncating integer mean: Spark `div` and DuckDB integer `//`
        // both round toward zero (verified), so negative dim sums give
        // identical centroids on both engines
        .select($"cid", $"dim", expr("s div n").as("cu_d"))
        .groupBy($"cid")
        .agg(transform(array_sort(collect_list(struct($"dim", $"cu_d"))),
          x => x.getField("cu_d")).as("cu"))
        .transform(Materialize.reuse)
    val c1 = update(assign(c0))
    val c2 = update(assign(c1))
    val a3 = assign(c2)
    a3.select($"vec_id", $"cid",
        // per-member floor-scale BEFORE the sum: overflow-safe at any
        // corpus size and engine-exact (dist is non-negative, so Spark
        // truncating div == DuckDB floor //)
        expr("dist div 1000000").as("dppm"))
      .groupBy($"cid".as("cluster_id"))
      .agg(count(lit(1)).as("n_vec"), min($"vec_id").as("min_vec_id"),
        sum($"dppm").as("wss_ppm"))
      .join(c2.select($"cid".as("cluster_id"),
        aggregate($"cu", lit(0L), (a, c) => a + abs(c)).as("centroid_l1")),
        "cluster_id")
      .orderBy($"cluster_id")
  }

  /** `sim_range_search`: cosine RANGE search — every corpus vector
    * within a similarity radius of each probe (vec_id < 3 panel), the
    * retrieval mode thresholded dedup/recall pipelines use where top-k
    * is wrong (the answer set size is data-dependent, not fixed).
    * Same scale shape as `sim_knn_join`: tiny broadcast probe panel,
    * one linear scan of the corpus, no global sort and no window — a
    * filter, which is exactly why range search scales better than
    * top-k when the radius is selective. The threshold compares the
    * ROUNDED similarity (4 dp) so the accept rule is identical on both
    * engines (the dedup_containment lesson). */
  def simRangeSearch(spark: SparkSession, sfDir: String, tau: Double = 0.2): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, sfDir)
    val probes = e.filter($"vec_id" < 3)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_emb"))
    e.crossJoin(broadcast(probes))
      .filter($"vec_id" =!= $"probe_id")
      .select($"probe_id", $"vec_id",
        round(dot($"embedding", $"probe_emb") /
          (l2Norm($"embedding") * l2Norm($"probe_emb")), 4).as("cos_sim"))
      .filter($"cos_sim" >= tau)
      .orderBy($"probe_id", $"vec_id")
  }

  /** `embed_drift_stats`: per-dimension embedding drift between two
    * corpus snapshots (vec_id parity stands in for old/new cohorts) —
    * the distribution-shift check an embedding pipeline runs before
    * trusting a refreshed encoder against an existing index: per-dim
    * cohort means, their signed delta, and the cosine between the two
    * centroid vectors (near 1.0 ⇒ the space didn't rotate; per-dim
    * deltas localize any shift). Means are exact decimal averages (the
    * [[vecLabelCentroids]] idiom); the centroid cosine is computed on
    * micro-unit-QUANTIZED means — BIGINT products summed order-free
    * over the 64-row dim frame — so both engines agree bit-for-bit,
    * with IEEE touched only in the final division and the HALF_UP
    * quantizes. Scale shape: ONE scan, posexplode to (dim, cohort)
    * partial aggregates (map-side combined, 2×64 groups); every window
    * below runs on the 64-row dim frame, never the corpus. */
  def embedDriftStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    def mean(c: Int, col: String): Column =
      (sum(when($"cohort" === c, org.apache.spark.sql.functions.col(col)))
        .cast(DoubleType) /
        sum(when($"cohort" === c, $"n")).cast(DoubleType))
    // micro-unit signed quantize: integral-valued double, exact as long
    def q(c: Column): Column =
      (signum(c) * floor(abs(c) * 1000000.0 + 0.5)).cast(LongType)
    val m = Tables.embeddings(spark, sfDir)
      .select(($"vec_id" % 2).cast(IntegerType).as("cohort"),
        posexplode($"embedding"))
      .toDF("cohort", "dim", "v")
      .groupBy($"dim", $"cohort")
      .agg(sum($"v".cast(DecimalType(20, 10))).as("s"), count(lit(1)).as("n"))
      .groupBy($"dim")
      .agg(mean(0, "s").as("mean_old"), mean(1, "s").as("mean_new"))
      .select($"dim", $"mean_old", $"mean_new",
        q($"mean_old").as("qo"), q($"mean_new").as("qn"))
    val wAll = Window.partitionBy(lit(1))
    m.select($"dim",
        graft.Det.r4s($"mean_old").as("mean_old"),
        graft.Det.r4s($"mean_new").as("mean_new"),
        graft.Det.r4s($"mean_new" - $"mean_old").as("delta"),
        graft.Det.r4s(
          sum($"qo" * $"qn").over(wAll).cast(DoubleType) /
            (sqrt(sum($"qo" * $"qo").over(wAll).cast(DoubleType)) *
              sqrt(sum($"qn" * $"qn").over(wAll).cast(DoubleType))))
          .as("centroid_cos"))
      .orderBy($"dim")
  }
}
