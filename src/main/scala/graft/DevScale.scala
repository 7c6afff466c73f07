package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only scale-slope harness: replicate the sf0.1 star schema M× with
  * consistently shifted keys into `target/scaleM/`, then time a
  * representative query subset at 1× and M× and print the per-query
  * ratio. Evidence for the would-it-survive-100× question: a plan that
  * scales with data shows a near-M slope on aggregate/join work (or ~1
  * on fixed-output probes); a super-linear slope exposes a quadratic or
  * skew bug the sf0.1 bench can't see.
  *
  * Replicas are self-contained: every foreign key is shifted by the same
  * per-replica offset as its primary key, so replica i's customers only
  * own replica i's orders and all join fan-outs keep their 1× shape.
  * `user_id` and event timestamps are NOT shifted — 10× events per user
  * deliberately stresses per-key streaming/window state depth.
  *
  * Usage: `runMain graft.DevScale [multiplier]` (default 10). Queries
  * whose OUTPUT semantics are quadratic in replication (near-dup pair
  * mining over a corpus replicated verbatim) are excluded: their blow-up
  * is an artifact of cloned text, not plan quality.
  */
object DevScale {
  private val Base = "/root/testdata/sf0.1"

  private val QuerySubset = Seq(
    "agg_pricing_summary", "q3_shipping_priority", "join_5way_revenue",
    "q21_late_suppliers", "window_topk_group", "agg_cube",
    "cdc_latest_state", "cdc_sessionize", "cdc_merge_upsert",
    "dedup_exact_hash", "text_tokenize_counts", "text_tfidf",
    "text_quality_score", "sample_split_assign", "sim_topk_cosine",
    "vec_label_centroids",
    // round 6: generate-heavy multimodal, regex+agg frontier dedup, and
    // the two-phase sketch (graph_pagerank stays excluded — replicated
    // text makes its pair graph quadratic by fixture artifact, the same
    // reason the near-dup miners are excluded)
    "mm_patch_grid", "url_canonicalize_dedup", "agg_approx_top_k",
    // round 7: the rewritten text queries (regexp_count lang-id,
    // window-free bigram top-k, split-free lang stats) and the new
    // repetition filter — all per-doc or small-output aggregates, so
    // replication stresses the plan, not the fixture
    "text_lang_id", "text_ngram_freq", "text_lang_stats",
    "text_repetition_ratio",
    // round 8: the new single-pass data-path ops (the SQL-surface
    // queries are thin wrappers over already-audited plans; the state
    // reader's cost is the streaming floor, profiled separately)
    "text_filter_funnel", "sample_domain_budget", "layout_zorder_cluster",
    // round 9: binary-corpus ingestion (file-count-linear staging +
    // listing) and the 4x-expansion sliding window (events replicate
    // into the same time range, so 10x density per window)
    "source_binaryfile_scan", "window_sliding_time",
    "layout_compact_files", "source_json_corrupt_quarantine",
    "graph_triangle_count",
    // round 10 (r08): the two heavy queries that had no slope rows —
    // q20's decorrelated conditional agg and the bounded-build JSON shred
    "q20_potential_promotion", "json_nested_shred",
    // round 10 additions: CSV file source (staging is file-count-linear,
    // the read is the scan path) and the vocab-collapsed BPE pair count
    "source_csv_roundtrip", "text_bpe_pair_counts",
    // round 11: bigram LM (model joins grow with the bigram vocab),
    // substring-span dedup (hash-keyed span shuffle; replication makes
    // every span cross-replica duplicated — output stays per-doc), and
    // PQ ANN (fixed probe output; encode is corpus-linear).
    // cdc_stream_foreachbatch stays out like the rest of cdc_stream_*:
    // its cost is the profiled streaming floor
    "text_bigram_logprob", "dedup_substring_spans", "sim_ann_pq",
    // round 11 second batch: funnel/nearest (events windows), prefix
    // retrieval + keyframe (fixed output / generate+agg), weighted
    // percentile (per-group sorted cumsum). dedup_containment stays out
    // with the other near-dup pair miners: cloning the corpus makes the
    // TRUE containment pair set quadratic (every doc gains 9 clones)
    "window_funnel_steps", "join_asof_nearest", "sim_topk_prefix",
    "mm_video_keyframe", "agg_weighted_percentile",
    // round 11 third batch: temperature mixing (per-lang agg + tiny
    // frame), the CCNet perplexity terciles (bigram pipeline + per-lang
    // ntile over corpus/#langs frames), and the vocab-free hashing-trick
    // features (one explode + hash agg). mm_image_phash stays out with
    // the other near-dup pair miners (cloning makes the TRUE pair set
    // quadratic — every image gains 9 identical clones)
    "sample_temperature_weights", "text_perplexity_bucket",
    "text_hash_features",
    // round 11 fourth batch: the classifier gate (one scan, scalar
    // exprs) and the DQ rule report (two fact-side RI joins dominate)
    "text_quality_classifier", "table_quality_checks",
    // round 11 fifth batch: the relational power iteration (corpus
    // explode staged once, two equi-joins per iteration) and the
    // one-exchange islands pass
    "vec_pca_power", "window_gap_islands",
    // round 11 sixth batch: the SCD2 lookup (per-user history join) and
    // boilerplate-line removal (hash-keyed freq + ordered rebuild)
    "join_scd2_pointintime", "text_dedup_lines",
    // round 11 seventh batch: the 3VL anti-join counts (three
    // subquery scans) and session x campaign overlap (session agg +
    // 3-row broadcast)
    "join_null_aware_anti", "join_interval_overlap",
    // round 11 capstone: the composed corpus-build funnel (quality
    // prune -> dedup shuffle -> tiny-frame mixing -> broadcast keep)
    // and exact class rebalancing (per-class window rank)
    "pipeline_corpus_build", "sample_balanced_classes",
    // cohort retention: two user-keyed aggs + equi-join; rolling WAU:
    // bounded 7x generate + (day, user) distinct
    "window_retention_cohorts", "window_rolling_distinct",
    // round 12: the exchange-free bucketed join (staging memoized, the
    // timed pass is the co-located SMJ itself — scan-linear by design)
    // and iterated BPE merges (replication multiplies word COUNTS but
    // not the vocab, so the merge rounds should be near-flat — the
    // vocab-sub-linearity claim made measurable). cdc_stream_sliding
    // stays out with the rest of cdc_stream_*: streaming floor.
    "layout_bucketed_join", "text_bpe_merges",
    // round 12 second batch: relational k-means (corpus-linear assign
    // passes against an 8-row broadcast; update is a (cid, dim) partial
    // sum) and cosine range search (broadcast panel, linear scan, no
    // sort — output grows with replication since clones re-match)
    "vec_kmeans_lloyd", "sim_range_search",
    // round 12 third batch: the cached-dim aggregate (cache build is
    // memoized; the timed pass reads columnar batches) and hourly
    // gap-fill (events-linear anchor pass; the grid itself is bounded
    // by the unshifted time span, so replication densifies, not widens)
    "layout_cached_scan", "ts_gapfill_interpolate",
    // round 12 fourth batch: the grid radius join (cell-keyed shuffle;
    // event_id IS shifted per replica, so replicas scatter to fresh
    // points — density and pair count grow ~M with the point cloud)
    "join_radius_grid",
    // round 12 fifth batch: the typed UDAF (constant 3-long state per
    // group, map-side combined — should scale like any partial agg)
    // and the dynamic-overwrite aggregate (staging memoized/untimed;
    // the timed pass is a partitioned scan + 3-group agg)
    "sql_udaf_typed", "layout_dynamic_overwrite",
    // round 13: silence-run detection (one codegen prefix-sum pass per
    // doc + in-row run fold — no shuffle to grow, should stay flat) and
    // the line-oriented text source (staging is untimed warm-up; the
    // timed pass is the line scan + split + bucket agg)
    "mm_audio_silence", "source_text_lines",
    // round 13 later batches: the typed sorted-group folds (engine
    // secondary sort; 10x events per user stresses per-group depth),
    // OHLC argmin/argmax downsampling (map-side combinable), the
    // AQE-rebalanced write's read-back aggregate (staging memoized),
    // and dynamic-gap sessions (session merge depth grows with per-user
    // density). graph_label_propagation stays out with pagerank: the
    // cloned corpus makes its pair graph quadratic by fixture artifact;
    // sql_* and table_transpose are thin wrappers over audited plans.
    "typed_sorted_streaks", "typed_cogroup_sorted", "ts_downsample_ohlc",
    "layout_rebalance_write", "window_session_dynamic",
    // round 13 sixth batch: the cube-bitmask agg (bounded output), the
    // per-doc config parse (projection-flat family), and the
    // whole-file-per-task multiLine JSON read (staging memoized; the
    // timed pass parses M× the array bytes across M× the files)
    "agg_grouping_id", "map_str_to_map", "source_json_multiline",
    // round 14: the per-doc scalar families (html strip, readability,
    // formatting, deflate ratio — projection-flat by design), the
    // token-keyed novelty join and PMI model build (shuffles grow with
    // the corpus, outputs stay model-sized), template clustering (one
    // hash agg), rolling window stats (10x events per user stresses
    // frame density), the calendar/moment/entropy/map aggregates
    // (bounded outputs), and the two staged-source reads (staging
    // memoized/untimed). graph_degree_distribution stays out with
    // pagerank/LPA: the cloned corpus makes the pair graph quadratic by
    // fixture artifact; cdc_stream_union/_windowed_append stay out with
    // the rest of cdc_stream_*: streaming floor; sql_* are thin
    // wrappers over audited plans.
    "text_html_strip", "text_readability", "text_vocab_novelty",
    "text_pmi_cooccur", "text_compression_ratio", "dedup_template_hash",
    "window_rolling_zscore", "window_rolling_median",
    "agg_map_collect", "agg_entropy_gini", "agg_skew_kurtosis",
    "agg_corr_covar", "num_format_funcs", "ts_calendar_features",
    "source_parquet_merge_schema", "source_csv_malformed_permissive",
    // round 15: the three remaining evidence-weak queries (r12 verdict
    // item 2). ratio_to_report: per-customer window, replication adds
    // customers not partition depth; poisson bootstrap: bounded explode
    // + per-lang agg; embed drift: posexplode to a 2x64-group partial
    // agg. graph_bfs_distance stays out with pagerank/LPA (cloned
    // corpus -> quadratic pair graph, a fixture artifact) — its slope
    // is measured on synthetic graphs instead: DevStress graph.
    "window_ratio_to_report", "sample_poisson_bootstrap",
    "embed_drift_stats")

  /** The top-10 BATCH queries by r15 bench cost (r15 verdict item 1) —
    * the 100× evidence set: `runMain graft.DevScale 100 top10`. The
    * replicas multiply data 100-fold while local[32] holds the core
    * count at 1/32nd of even a small production cluster, so the bar at
    * 100× is slope SUB-LINEAR-IN-DATA per core, not wall-clock parity.
    * dedup_containment is excluded from the generic QuerySubset because
    * cloned text makes its TRUE pair set quadratic (every doc gains
    * M−1 verbatim containment partners — a fixture artifact, not plan
    * cost); it is still measured here, with the output blow-up recorded
    * next to the timing in SCALE.md rather than hidden. */
  private val Top10Bench = Seq(
    "q21_late_suppliers", "q18_large_orders", "dedup_substring_spans",
    "text_perplexity_bucket", "dedup_containment", "q11_important_stock",
    "q2_min_cost_supplier", "q8_market_share", "join_5way_revenue",
    "text_bigram_logprob")

  /** Memo stamp shared by the salted/jittered replicas (the DevStress
    * .src-stamp idiom, r16 advisor note): keyed on the source's absolute
    * path + per-part-file signature and written only AFTER the parquet
    * write completes, so an interrupted write, a regenerated base
    * fixture, or a logic change (bump `tag`) rebuilds instead of
    * silently reusing a stale/partial replica. */
  private def stamped(name: String, src: String, tag: String)(build: String => Unit): String = {
    val out = StageDirs.target(name).toString
    val stampFile = new java.io.File(s"$out/.src-stamp")
    val want = Seq(tag, src, StageDirs.srcSig(src)).mkString("\n")
    val fresh = stampFile.exists() && {
      val in = scala.io.Source.fromFile(stampFile)
      try in.mkString == want finally in.close()
    }
    if (!fresh) {
      build(out)
      val w = new java.io.PrintWriter(stampFile)
      try w.print(want) finally w.close()
    }
    out
  }

  /** Artifact-corrected replica for the near-dup PAIR MINERS
    * (`runMain graft.DevScale <m> saltdocs <queries…>`): the verbatim
    * replica gives every document M−1 identical clones, so the TRUE
    * containment/near-dup pair set grows ~M² — measuring the fixture,
    * not the plan (the reason those queries are excluded from
    * QuerySubset). Here every replica's tokens get a per-replica prefix
    * (`r<i>_`), making vocabularies DISJOINT across replicas: each
    * replica reproduces the 1× intra-corpus pair structure exactly
    * (token-equality patterns are prefix-invariant), so the true pair
    * count grows M-linearly — a 100× corpus at 1× duplicate density,
    * the realistic shape of a 100 TB crawl. Only `documents` is
    * salted/written (the pair miners read nothing else). */
  private def saltedDocs(spark: SparkSession, m: Int): String =
    stamped(s"scale${m}salt", s"$Base/documents.parquet", "salt-v2") { out =>
      println(s"[scale] generating $m x token-salted documents at $out")
      val src = spark.read.parquet(s"$Base/documents.parquet")
      (0 until m).map { i =>
        src.withColumn("doc_id", col("doc_id") + lit(i * 1000000L))
          // whitespace CLASS, not literal space (r16 advisor note): a
          // token after \n or \t must get the prefix too, or replicas
          // share vocabulary there and cross-replica pairs reappear
          .withColumn("text", regexp_replace(col("text"), "(^|\\s)", s"$$1r${i}_"))
      }.reduce(_.union(_))
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
    }

  /** ε-jittered embedding replica for the ANN recall measurements
    * (`DevRecall jit:<m>`): the verbatim replica clones vectors exactly,
    * so the M× ground-truth top-k is clone-dominated and recall only
    * proves ROUTING consistency (the r16 caveat). Here replica 0 stays
    * pristine and every other replica perturbs each coordinate with a
    * deterministic hash-seeded uniform draw in ±[[JitterAmp]] — clones
    * become near-duplicates (cosine ≈ 0.975 to the parent at amp 0.05 on
    * the unit-norm 64-dim fixture), so the exact top-10 is a ranking the
    * index must DISCRIMINATE, not just re-route. Deterministic: the
    * noise is murmur3(vec_id, dim) — no RNG state, rebuild-identical. */
  private[graft] val JitterAmp = 0.05

  /** The jitter core, on arbitrary dirs — exposed so the suite can pin a
    * recall floor on a small jittered fixture (Round17OpsSpec). */
  private[graft] def jitterReplica(
      spark: SparkSession, srcDir: String, outDir: String, m: Int): Unit = {
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

  /** Events-only replica (`DevScale <m> events`) for the streaming
    * state-volume measurements (`DevStress streamvol`): the streaming
    * queries replay nothing but the events table, and the full replica
    * at large M is dominated by lineitem — an events-only build makes
    * M=400 (40M events, derived state partitions 20, 5× above the
    * floor) cost seconds instead of the full-table build. Same
    * event_id shift as the main replica; user_id and timestamps stay
    * unshifted, so M× means M× rows per trigger and M× per-key depth —
    * the launch-volume axis. */
  private[graft] def eventsReplica(spark: SparkSession, m: Int): String =
    stamped(s"scale${m}ev", s"$Base/events.parquet", "ev-v1") { out =>
      println(s"[scale] generating $m x events-only replica at $out")
      val src = spark.read.parquet(s"$Base/events.parquet")
      (0 until m).map { i =>
        src.withColumn("event_id", col("event_id") + lit(i * 1000000000L))
      }.reduce(_.union(_))
        .write.mode("overwrite").parquet(s"$out/events.parquet")
    }

  /** User-shifted events replica (`DevScale <m> eventsu`) — the SECOND
    * streaming-volume axis, for the stream-stream interval joins: the
    * plain [[eventsReplica]] keeps user_id unshifted, so M× there means
    * M× in-window events PER KEY — which for a symmetric interval join
    * multiplies the TRUE match set by M² (every purchase replica matches
    * every click replica of the same user — the same fixture artifact
    * as the verbatim-text pair graph, data semantics rather than plan
    * quality). Shifting user_id per replica gives M× KEYS at constant
    * per-key density: the "more users, same traffic shape" axis a
    * 100 TB day actually grows along, with the true match set and the
    * join state both linear in M. Both axes get measured
    * (`DevStress streamvol join`); this replica is the one whose slope
    * judges the ENGINE, the unshifted one documents the M² artifact. */
  private[graft] def eventsUsersReplica(spark: SparkSession, m: Int): String =
    stamped(s"scale${m}evu", s"$Base/events.parquet", "evu-v1") { out =>
      println(s"[scale] generating $m x user-shifted events replica at $out")
      val src = spark.read.parquet(s"$Base/events.parquet")
      (0 until m).map { i =>
        src.withColumn("event_id", col("event_id") + lit(i * 1000000000L))
          .withColumn("user_id", col("user_id") + lit(i * 1000000L))
      }.reduce(_.union(_))
        .write.mode("overwrite").parquet(s"$out/events.parquet")
    }

  /** pHash-safe documents replica (`DevScale <m> phdocs`) for the
    * `mm_image_phash` scale measurement. The verbatim and token-salted
    * replicas both fail it: verbatim copies share payload bytes, so
    * every replica pair collides at Hamming 0 (M² true pairs — the r17
    * finding that kept phash out of the 100× table), and the salt
    * prefixes still leave most pixel blocks identical. Here every
    * (doc, replica) payload is a deterministic pseudo-random hex string
    * (sha2 chain seeded by doc_id × replica, length preserved from
    * n_chars) so dHash fingerprints DECORRELATE — band buckets land at
    * the uniform occupancy a real deduplicated image corpus shows — and
    * a known 1%-rate dup set is PLANTED back in: in replica i>0, docs
    * with doc_id % 100 == i % 100 reuse replica 0's payload, so the
    * true Hamming-0 pair set grows LINEARLY with M and the measured
    * output can be asserted against the planted count. */
  private[graft] def phashDocs(spark: SparkSession, m: Int): String =
    stamped(s"scale${m}ph", s"$Base/documents.parquet", "ph-v1") { out =>
      println(s"[scale] generating $m x phash-safe documents at $out")
      val src = spark.read.parquet(s"$Base/documents.parquet")
        .select("doc_id", "lang", "source", "n_chars")
      (0 until m).map { i =>
        src
          // seed 0 for the planted dups (same bytes as replica 0), i else
          .withColumn("ph_seed",
            if (i > 0) expr(s"IF(doc_id % 100 = $i % 100, 0, $i)") else lit(0))
          // enough 64-hex-char sha2 chunks to cover n_chars, cut to size
          .withColumn("text", expr(
            "substring(array_join(transform(sequence(0, int(n_chars / 64) + 1), " +
              "k -> sha2(concat(string(doc_id), ':', string(ph_seed), ':', string(k)), 256)), " +
              "''), 1, int(n_chars))"))
          .withColumn("doc_id", col("doc_id") + lit(i * 1000000L))
          .select("doc_id", "text", "lang", "source", "n_chars")
      }.reduce(_.union(_))
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
    }

  private[graft] def jitteredEmbeddings(spark: SparkSession, m: Int): String =
    stamped(s"scale${m}jit", s"$Base/embeddings.parquet", "jit-v1") { out =>
      println(s"[scale] generating $m x jittered embeddings at $out")
      jitterReplica(spark, Base, out, m)
    }

  /** Number of mixture clusters in the clustered embedding replica, and
    * the blend weight pulling each replicated vector toward its cluster
    * centroid. 8 clusters over a 16-centroid IVF index is the
    * occupancy-skew regime: at 100× roughly 99% of the corpus mass sits
    * in 8 clumps, so several IVF lists are overloaded while others are
    * near-empty, and LSH bucket histograms are far from uniform. λ=0.5
    * keeps half of each vector's own direction so clone rankings stay
    * non-trivial (λ→1 would collapse every cluster member onto one
    * point and recall would be decided by tie-break order, not
    * routing). */
  private[graft] val MixClusters = 8
  private[graft] val MixLambda = 0.5

  /** Normalizes the hash-seeded centroid to ≈unit length so [[MixLambda]]
    * blends comparable magnitudes: a coordinate uniform in ±1 has
    * E[u²] = 1/3, so the raw 64-dim centroid norm is √(64/3) ≈ 4.6 and
    * would swamp the unit-norm parent at any λ. With the scale applied,
    * within-cluster cosine lands ≈ 0.5 (the topical-cluster regime) and
    * cross-cluster ≈ 0. */
  private[graft] val MixCentroidScale = math.sqrt(3.0 / 64)

  /** Mixture-CLUSTERED embedding replica (`DevRecall mix:<m>`) — the
    * occupancy counterpart of [[jitterReplica]]: the ε-jittered replica
    * keeps the corpus near-uniform over index buckets (every clone stays
    * within ±[[JitterAmp]] of its parent), which is exactly where IVF
    * probe budgets and LSH bucket joins DON'T degrade. Real embedding
    * corpora are mixture-clustered — topical mass concentrates — and
    * that is where a fixed NumProbe / band count loses recall. Replica 0
    * stays pristine (the probe vec_id=0 and the IVF seed centroids
    * vec_id<16 keep their base geometry); every other replica's vector
    * is blended toward one of [[MixClusters]] SHARED deterministic
    * centroids (cluster = pmod(hash(vec_id), K), centroid coordinate =
    * hash-seeded uniform in ±1 scaled to ≈unit norm by
    * [[MixCentroidScale]]) plus the same per-vector jitter as the
    * jit replica, so cluster membership is pseudo-random per vector but
    * the centroids are global: the 100× corpus lands ~99% inside 8
    * clumps. Deterministic — no RNG state, rebuild-identical. */
  private[graft] def mixReplica(
      spark: SparkSession, srcDir: String, outDir: String, m: Int): Unit = {
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

  private[graft] def mixedEmbeddings(spark: SparkSession, m: Int): String =
    stamped(s"scale${m}mix", s"$Base/embeddings.parquet", "mix-v1") { out =>
      println(s"[scale] generating $m x mixture-clustered embeddings at $out")
      mixReplica(spark, Base, out, m)
    }

  def main(args: Array[String]): Unit = {
    val m = args.headOption.map(_.toInt).getOrElse(10)
    val out = StageDirs.target(s"scale$m").toString
    val spark = Sessions.build()

    // events-only build for the streaming volume measurements — must
    // branch BEFORE the full-replica build below (the whole point is
    // not paying for a 400x lineitem)
    if (args.length > 1 && args(1) == "events") {
      eventsReplica(spark, m)
      spark.stop()
      return
    }
    if (args.length > 1 && args(1) == "eventsu") {
      eventsUsersReplica(spark, m)
      spark.stop()
      return
    }
    if (args.length > 1 && args(1) == "phdocs") {
      phashDocs(spark, m)
      spark.stop()
      return
    }

    val shifts: Map[String, Map[String, Long]] = Map(
      "region"   -> Map("r_regionkey" -> 100L),
      "nation"   -> Map("n_nationkey" -> 100L, "n_regionkey" -> 100L),
      "customer" -> Map("c_custkey" -> 10000000L, "c_nationkey" -> 100L),
      "supplier" -> Map("s_suppkey" -> 10000000L, "s_nationkey" -> 100L),
      "part"     -> Map("p_partkey" -> 10000000L),
      "orders"   -> Map("o_orderkey" -> 100000000L, "o_custkey" -> 10000000L),
      "lineitem" -> Map("l_orderkey" -> 100000000L, "l_partkey" -> 10000000L,
                        "l_suppkey" -> 10000000L),
      "events"   -> Map("event_id" -> 1000000000L),
      "documents" -> Map("doc_id" -> 1000000L),
      "embeddings" -> Map("vec_id" -> 1000000L))

    if (!new java.io.File(s"$out/lineitem.parquet").exists()) {
      println(s"[scale] generating $m x replica of sf0.1 at $out")
      shifts.foreach { case (table, keyShifts) =>
        val src = spark.read.parquet(s"$Base/$table.parquet")
        val replicas = (0 until m).map { i =>
          keyShifts.foldLeft(src) { case (df, (k, span)) =>
            df.withColumn(k, (col(k) + lit(i * span)).cast(df.schema(k).dataType))
          }
        }
        replicas.reduce(_.union(_))
          .write.mode("overwrite").parquet(s"$out/$table.parquet")
      }
    }

    def time(name: String, dir: String): (Double, Long) = {
      val fn = SparkEntry.queries(name)
      fn(spark, dir).count() // warm plan+codegen
      val t0 = System.nanoTime()
      val rows = fn(spark, dir).count()
      ((System.nanoTime() - t0) / 1e9, rows)
    }

    // warm both scan paths
    spark.read.parquet(s"$Base/region.parquet").count()
    spark.read.parquet(s"$out/region.parquet").count()
    // `saltdocs` mode: time the named pair miners on the token-salted
    // documents replica instead (see saltedDocs above)
    val salt = args.length > 1 && args(1) == "saltdocs"
    val mDir = if (salt) saltedDocs(spark, m) else out
    // optional 2nd+ args: time only the named queries (replica reused);
    // `top10` = the r15-verdict 100× evidence set
    val sel =
      if (salt) args.drop(2).toSeq
      else if (args.length == 2 && args(1) == "top10") Top10Bench
      else if (args.length > 1) args.drop(1).toSeq
      else QuerySubset
    println(f"${"query"}%-24s ${"1x_sec"}%8s ${s"${m}x_sec"}%8s ${"slope"}%6s ${"1x_rows"}%9s ${s"${m}x_rows"}%10s")
    sel.foreach { q =>
      val (t1, r1) = time(q, Base)
      val (tm, rm) = time(q, mDir)
      println(f"$q%-24s $t1%8.3f $tm%8.3f ${tm / t1}%6.2f $r1%9d $rm%10d")
    }
    spark.stop()
  }
}
