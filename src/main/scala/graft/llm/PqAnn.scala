package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Materialize, Tables}

/** Product-quantization (PQ) approximate nearest neighbour — the third
  * ANN scale path next to the hyperplane LSH ([[EmbedLsh]]) and the
  * inverted-file lists ([[IvfAnn]]), and the one with the smallest
  * per-vector footprint: the 64-dim float vector (256 bytes) collapses
  * to `NumSub` = 8 codebook codes (8 bytes) — the representation a
  * billion-vector index actually stores in memory.
  *
  *  1. the vector space is split into 8 subspaces of 8 dims;
  *  2. per subspace, a 32-entry codebook quantizes the sub-vectors
  *     (deterministic seed pick + 2 exact-arithmetic Lloyd iterations —
  *     the [[IvfAnn]] rule: centroid QUALITY tunes recall, never the
  *     plan shape);
  *  3. every vector is encoded as its 8 nearest-sub-centroid codes
  *     (one broadcast nested loop over 256 sub-centroids, map-side);
  *  4. a probe builds an 8×32 asymmetric-distance LUT (partial distance
  *     from the probe's sub-vector to every sub-centroid) — 256 rows,
  *     broadcast;
  *  5. the ADC scan joins codes⋈LUT and sums the 8 partial distances
  *     per vector — the shuffle carries (vec_id, decimal partial), never
  *     embeddings — giving the approximate shortlist;
  *  6. the `ShortList` best ADC candidates are re-ranked by EXACT cosine
  *     against the real vectors (codegen [[graft.functions.FloatVecDot]]).
  *
  * Determinism: the per-vector ADC sum adds 8 float-derived doubles —
  * a plain double `sum` would be partial-aggregation-order-dependent, so
  * the partials are cast to DECIMAL first (exact, merge-order-free), and
  * every ranking tie-breaks on `vec_id`.
  *
  * Recall@10 vs the exact panel (SCALE.md): 10/10 at sf0.001, sf0.01
  * AND sf0.1 with the 2% shortlist (1000 of 50k at sf0.1) — the
  * shortlist fraction is the production recall knob (the nprobe /
  * efSearch analogue), independent of the plan shape.
  */
object PqAnn {
  val NumSub = 8
  val SubDim = 8
  val NumCodes = 32
  val ShortList = 1000
  val LloydIters = 2

  /** (sub, sub-vector) rows: one per subspace per input row. */
  private def subVecs(df: DataFrame): DataFrame =
    df.select(col("vec_id"), posexplode(transform(
        sequence(lit(0), lit(NumSub - 1)),
        s => slice(col("embedding"), s * SubDim + 1, lit(SubDim))))
      .as(Seq("sub", "svec")))

  /** relative squared distance |c|^2 - 2 v.c (|v|^2 constant per row). */
  private def relDist(v: Column, c: Column): Column =
    VectorOps.sumSquares(c) - lit(2.0) * VectorOps.dot(v, c)

  private def cosine(a: Column, b: Column): Column =
    VectorOps.dot(a, b) / (VectorOps.l2Norm(a) * VectorOps.l2Norm(b))

  /** Deterministic Lloyd refinement: assign every sub-vector to its
    * nearest sub-centroid, recompute each centroid as the member mean —
    * per-dimension DECIMAL sums (exact, merge-order-free) so the trained
    * codebook is bit-identical on any partitioning. The array is rebuilt
    * in dimension order via array_sort over (dim, value) structs
    * (collect_list alone has no order guarantee). Each iteration's
    * 128-row codebook is localCheckpoint'd so plans stay flat. */
  private def refine(sv: DataFrame, cents0: DataFrame, iters: Int): DataFrame = {
    var cents = cents0
    for (_ <- 1 to iters) {
      val assigned = sv
        .join(broadcast(cents), "sub")
        .select(col("vec_id"), col("sub"), col("code"),
          relDist(col("svec"), col("cvec")).as("rel"))
        .groupBy(col("vec_id"), col("sub"))
        .agg(min(struct(col("rel"), col("code"))).as("m"))
        .select(col("vec_id"), col("sub"), col("m.code").as("code"))
      cents = assigned.join(sv, Seq("vec_id", "sub"))
        .select(col("sub"), col("code"), posexplode(col("svec")).as(Seq("dim", "v")))
        .groupBy(col("sub"), col("code"), col("dim"))
        .agg((sum(col("v").cast(DecimalType(20, 10))) / count(lit(1)))
          .cast("float").as("cv"))
        .groupBy(col("sub"), col("code"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("cv")))),
          x => x.getField("cv")).as("cvec"))
        .transform(Materialize.reuse)
    }
    cents
  }

  /** `sim_ann_pq`: approximate top-10 neighbours of probe vec_id=0 via
    * PQ codes + ADC shortlist + exact re-rank. No SQL oracle
    * (probabilistic recall); the spec pins determinism, exact-cosine
    * ranking of the emitted rows, and recall@10 against the exact
    * panel. */
  def simAnnPq(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir).select($"vec_id", $"embedding")
    val sv = subVecs(emb)
    // codebook: sub-vectors of the NumCodes smallest ids (seed pick),
    // sharpened by deterministic Lloyd iterations over the corpus.
    // Trained ONCE per (session, sfDir) — the codebook IS the index
    // artifact a production PQ deployment builds offline (the
    // GraphOps.orientedEdges shared-stage rule): the two full-corpus
    // Lloyd passes are index-build cost, not per-query cost; encode/
    // ADC/re-rank stay in the per-query path. The memoized frame is the
    // refine loop's final lineage-cut frame (128 rows, bounded).
    val cents = Materialize.memo(spark, ("pq_codebook", sfDir)) {
      val seeds = subVecs(emb.filter($"vec_id" < NumCodes))
        .select($"sub", $"vec_id".cast("int").as("code"), $"svec".as("cvec"))
      refine(sv, seeds, LloydIters)
    }
    // encode: nearest sub-centroid per (vector, subspace)
    val codes = sv.filter($"vec_id" =!= 0)
      .join(broadcast(cents), "sub")
      .select($"vec_id", $"sub", $"code", relDist($"svec", $"cvec").as("rel"))
      .groupBy($"vec_id", $"sub")
      .agg(min(struct($"rel", $"code")).as("m"))
      .select($"vec_id", $"sub", $"m.code".as("code"))
    // probe LUT: partial distance probe-subvector -> every sub-centroid
    val lut = subVecs(emb.filter($"vec_id" === 0))
      .select($"sub".as("psub"), $"svec".as("pvec"))
      .join(cents, $"psub" === $"sub")
      .select($"sub", $"code",
        relDist($"pvec", $"cvec").cast(DecimalType(20, 10)).as("pdist"))
    // ADC scan: sum of the 8 partial distances per candidate
    val shortlist = codes
      .join(broadcast(lut), Seq("sub", "code"))
      .groupBy($"vec_id")
      .agg(sum($"pdist").as("adc_dist"))
      .orderBy($"adc_dist", $"vec_id")
      .limit(ShortList)
    // exact cosine re-rank of the shortlist against the real vectors
    val probeEmb = emb.filter($"vec_id" === 0).select($"embedding".as("probe_emb"))
    shortlist
      .select($"vec_id")
      .join(emb, "vec_id")
      .crossJoin(broadcast(probeEmb))
      .select($"vec_id", cosine($"embedding", $"probe_emb").as("cos_raw"))
      .orderBy($"cos_raw".desc, $"vec_id")
      .limit(10)
      .select($"vec_id", round($"cos_raw", 4).as("cos_sim"))
  }
}
