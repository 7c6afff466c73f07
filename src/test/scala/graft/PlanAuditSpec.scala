package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.scalatest.funsuite.AnyFunSuite

/** Whole-inventory plan lint: every declared batch query's physical plan
  * is checked for the shapes that silently stop scaling — accidental
  * cartesian/nested-loop joins and interpreted (non-codegen) projections
  * where a codegen path exists. A query that passes its oracle but plans
  * a cross join at sf0.01 would melt at 100 TB; this suite makes that a
  * test failure instead of a production incident.
  *
  * Exclusions, each deliberate:
  *  - streaming queries (cdc_stream_*): constructing the DataFrame runs
  *    the whole streaming job; their returned plan is just the output
  *    read. Their plan properties are asserted in StreamingSpec.
  *  - join_cross_dims: the one intentional cartesian (two broadcastable
  *    dims) — asserted to stay a BROADCAST nested loop, never a
  *    shuffle-based CartesianProduct.
  *  - dedup_cluster_canonical: iterative — runs jobs during
  *    construction; its core is audited via dedup_ngram_jaccard (same
  *    pair-graph build) and unit tests on the propagation.
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val sf = SparkFixture.Sf

  // graph_pagerank: same iterative-construction shape as
  // dedup_cluster_canonical (eager edge-cache counts inside; the
  // returned frame is a materialized checkpoint) — its pair-graph build
  // is audited via dedup_ngram_jaccard and its propagation via
  // Round6OpsSpec's planted graphs.
  // graph_label_propagation: same iterative-construction shape (eager
  // edge-cache count inside; the returned frame is a materialized
  // checkpoint) — pair-graph build audited via dedup_ngram_jaccard.
  // graph_bfs_distance: same again (eager edge-cache count + rounds of
  // joins during construction, returns a localCheckpoint whose plan is
  // a vacuous checkpoint scan) — auditing it would execute the full BFS
  // for nothing; relaxation rounds are unit-tested on planted graphs
  // via GraphOps.bfsOnPairs in Round15OpsSpec (hop counts, multi-source
  // min, and the fixed-round horizon on a 2-component fixture).
  private val skip = Set("dedup_cluster_canonical", "graph_pagerank",
    "graph_label_propagation", "graph_bfs_distance") ++
    SparkEntry.queries.keys.filter(_.startsWith("cdc_stream_"))

  /** Queries that INTENTIONALLY broadcast a one-row (or dim-sized) frame
    * against everything — the scalar-subquery / probe-vector pattern. A
    * BroadcastNestedLoopJoin over a 1-row build side is a constant-fold,
    * not a quadratic join, and stays safe at any fact size. A shuffle
    * CartesianProduct is still banned for them (second test). */
  private val broadcastConstOk = Set("join_cross_dims", "q22_idle_customers",
    "q11_important_stock", "sim_ann_ivf", "sim_ann_lsh", "sim_topk_cosine",
    "sim_knn_join", "sim_ann_pq", "sim_topk_prefix", "sim_range_search",
    "join_interval_overlap", "window_rolling_distinct",
    // 8-row centroid panel broadcast against the corpus scan (the
    // distributed k-means shape); the constant-size build side makes
    // the nested loop a per-row 8-way compare, not a quadratic join
    "vec_kmeans_lloyd",
    // 1-row DESCRIBE-stats frame × 1-row column-stats frame: a
    // constant fold over catalog metadata, no data-sized side exists
    "sql_analyze_stats",
    // 1-row corpus-total frame broadcast against the pair counts (the
    // q11/q15 scalar-denominator pattern — the broadcast(nTot)
    // crossJoin in TextOps.pmiCooccur): a constant fold, not a
    // quadratic join
    "text_pmi_cooccur",
    // 1-row min-class-size scalar broadcast onto the ranked doc frame
    // (r22: replaced the global-window min that single-partitioned the
    // whole corpus — caught by the global-window guard below)
    "sample_balanced_classes")

  test("no declared batch query plans an accidental cartesian or nested-loop join") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => skip(name) }
      .flatMap { case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.executedPlan.toString
        val bad = Seq("CartesianProduct", "BroadcastNestedLoopJoin")
          .filter(plan.contains)
          .filterNot(p => p == "BroadcastNestedLoopJoin" && broadcastConstOk(name))
        if (bad.nonEmpty) Some(s"$name: ${bad.mkString(",")}") else None
      }
    assert(offenders.isEmpty,
      s"queries with non-equi join physical plans:\n${offenders.mkString("\n")}")
  }

  test("selective filters reach the parquet scan and unused columns are pruned") {
    // raise the metadata print cap so PushedFilters/ReadSchema aren't "..."-cut
    val key = "spark.sql.maxMetadataStringLength"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "2000")
    try {
      def plan(n: String) =
        SparkEntry.queries(n)(spark, sf).queryExecution.executedPlan.toString
      // q6: range predicates pushed; scan reads exactly the 4 needed columns
      val q6 = plan("q6_forecast_revenue")
      assert(q6.contains("GreaterThanOrEqual(l_shipdate"), "q6 shipdate filter not pushed")
      assert(q6.contains(
        "ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate:timestamp_ntz>"),
        "q6 scan reads more than the 4 needed lineitem columns")
      // nested-JSON shred: key range pushed; wide money columns pruned
      val js = plan("json_nested_shred")
      assert(js.contains("LessThan(l_orderkey,1000)"), "orderkey filter not pushed")
      assert(!js.contains("l_extendedprice"), "shred scan reads pruned-out columns")
      // tfidf: the per-doc slice prunes at the scan; the docfreq side doesn't
      val tf = plan("text_tfidf")
      assert(tf.contains("LessThan(doc_id,50)"), "tfidf doc slice not pushed to scan")
    } finally spark.conf.set(key, prev)
  }

  test("join strategy hints are honored: SHUFFLE_HASH plans a ShuffledHashJoin") {
    val hinted = SparkEntry.queries("join_hash_hint")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(hinted.contains("ShuffledHashJoin"),
      "SHUFFLE_HASH hint ignored — expected a ShuffledHashJoin build")
    val auto = SparkEntry.queries("join_broadcast")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(auto.contains("BroadcastHashJoin"),
      "un-hinted twin should broadcast the filtered dim side")
  }

  test("rewritten text queries keep their shuffle-light plans") {
    def plan(n: String) =
      SparkEntry.queries(n)(spark, sf).queryExecution.executedPlan.toString
    // bigram top-k: pairing is per-row (zip_with over slices) — a Window
    // here would mean the old sort-the-whole-token-stream shape regressed
    val ng = plan("text_ngram_freq")
    assert(!ng.contains("Window"), "ngram_freq should not plan a Window")
    assert(ng.contains("TakeOrderedAndProject"),
      "top-20 should ride TakeOrderedAndProject, not a global sort")
    // lang-id: regexp_count path — no interpreted HOF filter, one scan
    assert(!plan("text_lang_id").contains("ArrayFilter"),
      "lang_id should use regexp_count, not interpreted array filter")
    // lang stats: separator arithmetic — the split-free plan has no
    // generator and exactly one exchange (the 5-group aggregate)
    val ls = plan("text_lang_stats")
    assert(!ls.contains("Generate"), "lang_stats should not explode tokens")
  }

  test("round-11 data-path ops keep their intended plan shapes") {
    def plan(n: String) =
      SparkEntry.queries(n)(spark, sf).queryExecution.executedPlan.toString
    def count(p: String, needle: String) = needle.r.findAllIn(p).length
    // gaps-and-islands: lag, running sum, AND the island aggregate all
    // ride ONE user_id hash exchange (plus only the final output sort)
    val gi = plan("window_gap_islands")
    assert(count(gi, "Exchange hashpartitioning") == 1,
      "islands must reuse a single user_id exchange")
    assert(!gi.contains("Join"))
    // hashing-trick features: no vocabulary join, no window — just the
    // explode + the standard two-phase exact count-distinct aggregate
    val hf = plan("text_hash_features")
    assert(!hf.contains("Join") && !hf.contains("Window"))
    assert(count(hf, "Exchange hashpartitioning") <= 2,
      "hash features must stay the distinct-agg exchange pair")
    // SCD2 lookup (r18 union-as-of form): NO join at all — probes ∪
    // versions resolve in one per-user window pass (the equi-join
    // predecessor formed purchases×versions pairs per user before the
    // interval filter: 20.2 s vs 0.83 s at 100×, SCALE.md r18); the
    // plan must stay one user_id hash exchange + one Window
    val pit = plan("join_scd2_pointintime")
    assert(!pit.contains("Join"), "scd2 point-in-time must not re-grow a join")
    assert(pit.contains("Window"))
    assert(count(pit, "Exchange hashpartitioning") == 1,
      "probes and versions must ride ONE user_id exchange")
    // corpus build: the tiny rate/raw-stat frames ride broadcasts back
    // onto the deduped docs — never a shuffle of the corpus against them
    assert(plan("pipeline_corpus_build").contains("BroadcastHashJoin"))
  }

  /** The round-9 25× regression class, generalized past Filter (r10's
    * rule caught Filter only; the same alias-inlining can land in
    * Project/Aggregate/Generate): an ALIASED aggregate(transform(…))
    * column referenced N times gets the whole interpreted lambda inlined
    * N times into ONE operator's expressions. Two canonically-equal
    * higher-order subtrees inside a single operator mean some lambda is
    * re-evaluated per reference; the fix is a single-reference
    * derivation, a codegen Expression, or a Generate boundary. Returns
    * one line per (operator, duplicated lambda). */
  private def duplicatedHofs(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
    plan.collect { case op =>
      op.expressions
        .flatMap(_.collect { case h: HigherOrderFunction => h.canonicalized })
        .groupBy(identity).toSeq.collect { case (expr, occ) if occ.size >= 2 =>
          s"${op.nodeName}: ${occ.size}x ${expr.toString.take(120)}"
        }
    }.flatten
  }

  test("no operator duplicates a higher-order lambda (alias-inlining blowup)") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => skip(name) }
      .flatMap { case (name, fn) =>
        duplicatedHofs(fn(spark, sf).queryExecution.optimizedPlan)
          .map(line => s"$name → $line")
      }
    assert(offenders.isEmpty,
      s"operators holding duplicated lambdas:\n${offenders.mkString("\n")}")
  }

  test("the duplicated-lambda detector fires on the pre-r11 sentence-split shape") {
    // Regression fixture: the exact pre-fix text_sentence_split plan —
    // element_at(sents, 1) + size(sents) > 0 over an ALIASED
    // filter(split(…)) array. Pushdown inlines the filter lambda into
    // both references; the detector must flag it (it shipped r10 red).
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val old = graft.Tables.documents(spark, sf)
      .select($"doc_id", regexp_replace($"text", " the ", ". ").as("t"))
      .select($"doc_id",
        filter(split($"t", "[.!?]+\\s+"), s => length(s) > 0).as("sents"))
      .filter(size($"sents") > 0)
      .select($"doc_id", md5(element_at($"sents", 1)).as("first_sent_md5"),
        posexplode($"sents").as(Seq("p", "s")))
    assert(duplicatedHofs(old.queryExecution.optimizedPlan).nonEmpty,
      "detector no longer catches the known-bad aliased-lambda plan")
    // and the SHIPPED query is clean under the same detector
    assert(duplicatedHofs(SparkEntry.queries("text_sentence_split")(spark, sf)
      .queryExecution.optimizedPlan).isEmpty,
      "shipped text_sentence_split still duplicates a lambda")
  }

  /** Global-window guard (r21 verdict item 5): a Window with EMPTY
    * partitioning moves its whole input to one task — a silent
    * scale-killer if the input is data-sized. Every unpartitioned
    * Window in the inventory must therefore sit above an Aggregate
    * (group count bounds the frame: #langs, #rules, one scalar row…)
    * somewhere in its subtree, or above a GlobalLimit (top-k frames),
    * or the query must be pinned below with the reason its frame is
    * bounded by construction. A future edit that lands a global window
    * on a corpus-sized frame fails HERE, not at 100 TB. */
  private val globalWindowBoundedOk: Map[String, String] = Map(
    // currently EMPTY: every intentional global window in the inventory
    // sits above an Aggregate (#langs/#rules/scalar frames) or a
    // GlobalLimit, so the structural rule below covers them without
    // per-query pins. Add an entry (name -> why the frame is bounded)
    // only for a site the rule cannot see through, e.g. a global window
    // directly over a localCheckpoint of an aggregate. The first run of
    // this guard (r22) flagged sample_balanced_classes' min-over-window
    // — a REAL single-partition hazard, fixed as a 1-row broadcast
    // scalar — and no pinned exemption survived.
  )

  test("every unpartitioned Window sits above an Aggregate (global-window guard)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, Window => LWindow}
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => skip(name) || globalWindowBoundedOk.contains(name) }
      .flatMap { case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.optimizedPlan
        plan.collect {
          case w: LWindow if w.partitionSpec.isEmpty &&
              w.child.collectFirst {
                case _: Aggregate => (); case _: GlobalLimit => ()
              }.isEmpty =>
            s"$name: global Window over non-aggregated frame " +
              s"(${w.windowExpressions.map(_.name).mkString(",")})"
        }
      }
    assert(offenders.isEmpty,
      s"unpartitioned Windows on unbounded frames:\n${offenders.mkString("\n")}")
    // and the pinned sites must still EXIST as global windows — a pin
    // that no longer matches anything is stale and must be removed
    val stale = globalWindowBoundedOk.keys.filterNot(skip).filter { name =>
      SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }.isEmpty
    }
    assert(stale.isEmpty, s"stale global-window pins (no global window in plan): ${stale.mkString(",")}")
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** Tables whose parquet scan appears more than once in `df`'s physical
    * plan (AQE's initial plan and every subquery), with their scan
    * counts: one query reading the same input twice is the
    * duplicated-subtree class that a shared scan or a single pass
    * removes. Named by the scanned directory, e.g. `lineitem.parquet`. */
  private def duplicatedScans(df: DataFrame): Map[String, Int] =
    Plans.collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[ParquetFileFormat] =>
        s.relation.location.rootPaths.head.getName
    }.groupBy(identity).collect { case (t, occ) if occ.size > 1 => t -> occ.size }

  /** The duplicated scans of every batch query at sf0.01, recorded at
    * commit 8ad6a32. Pinned exactly: a query that gains a duplicated
    * table or a higher count fails, and so does an entry that no longer
    * matches, so the map only shrinks. The failure message prints each
    * differing query's found and pinned counts. */
  private val duplicatedScansPinned: Map[String, Map[String, Int]] = Map(
    "agg_hll_sketch" -> Map("events.parquet" -> 2),
    "cdc_envelope_evolution" -> Map("events.parquet" -> 2),
    "cdc_merge_upsert" -> Map("events.parquet" -> 2),
    "cdc_snapshot_union" -> Map("events.parquet" -> 2),
    "dedup_embed_cosine" -> Map("embeddings.parquet" -> 2),
    "join_bloom_prefilter" -> Map("customer.parquet" -> 3),
    "join_dpp_partitioned" -> Map("lineitem.parquet" -> 2),
    "join_null_aware_anti" -> Map("customer.parquet" -> 3, "orders.parquet" -> 3),
    "join_radius_grid" -> Map("events.parquet" -> 2),
    "join_range_bucketed" -> Map("events.parquet" -> 2),
    "join_scd2_pointintime" -> Map("events.parquet" -> 2),
    "q17_small_qty_orders" -> Map("lineitem.parquet" -> 2, "part.parquet" -> 2),
    "q22_idle_customers" -> Map("customer.parquet" -> 2),
    "q7_volume_shipping" -> Map("nation.parquet" -> 2),
    "q8_market_share" -> Map("nation.parquet" -> 2),
    "sample_balanced_classes" -> Map("documents.parquet" -> 2),
    "sample_poisson_bootstrap" -> Map("documents.parquet" -> 2),
    "set_ops" -> Map("customer.parquet" -> 4),
    "set_ops_all" -> Map("customer.parquet" -> 4),
    "set_ops_intersect" -> Map("customer.parquet" -> 2),
    "sim_ann_ivf" -> Map("embeddings.parquet" -> 5),
    "sim_ann_lsh" -> Map("embeddings.parquet" -> 2),
    "sim_ann_pq" -> Map("embeddings.parquet" -> 5),
    "sim_knn_join" -> Map("embeddings.parquet" -> 2),
    "sim_range_search" -> Map("embeddings.parquet" -> 2),
    "sim_topk_cosine" -> Map("embeddings.parquet" -> 2),
    "sim_topk_prefix" -> Map("embeddings.parquet" -> 2),
    "subquery_scalar" -> Map("part.parquet" -> 2),
    "table_quality_checks" ->
      Map("customer.parquet" -> 2, "lineitem.parquet" -> 2, "orders.parquet" -> 2),
    "text_bigram_logprob" -> Map("documents.parquet" -> 3),
    "text_decontaminate" -> Map("documents.parquet" -> 2),
    "text_dedup_lines" -> Map("documents.parquet" -> 2),
    "text_perplexity_bucket" -> Map("documents.parquet" -> 4),
    "text_repetition_ratio" -> Map("documents.parquet" -> 2),
    "text_tfidf" -> Map("documents.parquet" -> 2),
    "text_unigram_logprob" -> Map("documents.parquet" -> 2),
    "text_vocab_novelty" -> Map("documents.parquet" -> 2),
    "ts_gapfill_interpolate" -> Map("events.parquet" -> 2),
    "typed_cogroup_sorted" -> Map("events.parquet" -> 2),
    "union_by_name_evolution" -> Map("orders.parquet" -> 2),
    "window_rolling_distinct" -> Map("events.parquet" -> 2))

  test("duplicated parquet scans match the pinned offenders exactly") {
    val sf01 = "/root/testdata/sf0.01"
    val found = SparkEntry.queries.filterNot { case (name, _) => skip(name) }
      .map { case (name, fn) => name -> duplicatedScans(fn(spark, sf01)) }
      .filter(_._2.nonEmpty)
    val differ = (found.keySet ++ duplicatedScansPinned.keySet).toSeq.sorted
      .filter(q => found.get(q) != duplicatedScansPinned.get(q))
    assert(differ.isEmpty, "duplicated scans differ from the pins (query: found / pinned):\n" +
      differ.map { q =>
        s"$q: ${found.getOrElse(q, Map.empty)} / ${duplicatedScansPinned.getOrElse(q, Map.empty)}"
      }.mkString("\n"))
  }

  test("the one intentional cartesian stays broadcast, never a shuffle cartesian") {
    val plan = SparkEntry.queries("join_cross_dims")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("CartesianProduct") ||
      plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("CartesianProduct"),
      "cross of two dims must ride a broadcast, not a shuffle cartesian")
  }
}
