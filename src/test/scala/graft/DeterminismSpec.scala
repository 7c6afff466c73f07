package graft

import org.scalatest.funsuite.AnyFunSuite

/** Partition-count invariance: a distributed engine's results must be a
  * pure function of the DATA, never of how it happened to be
  * partitioned. The oracle gate catches partition-order sensitivity
  * only if it fires at the gate's fixed partition count; this spec
  * varies the pre-coalesce shuffle partition count (3 vs 7 — coprime,
  * both different from the suite's 4 and 256) and AQE's coalescing goal
  * (`parallelismFirst` true vs false) across a sample of the
  * order-sensitivity-RISKY shapes — float/decimal aggregation order,
  * window ties, ordered string aggregation, top-k boundaries, iterative
  * integer propagation — and requires bit-identical collected results.
  *
  * Streaming queries are excluded: they pin their own state-partition
  * count internally (frozen into the checkpoint), which is itself the
  * invariance mechanism on that surface. */
class DeterminismSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val sf = SparkFixture.Sf

  private val sample = Seq(
    "agg_pricing_summary",   // decimal-cast float sums
    "agg_listagg",           // ordered string aggregation
    "agg_mode_freq",         // packed-argmax mode (tie-broken by rule)
    "window_topk_group",     // rank boundaries
    "sort_limit_topk",       // global top-k boundary
    "sample_group_hash_topk",// hash-rank sampling
    "text_tfidf",            // per-doc float scoring + top-k ties
    "text_bpe_merges",       // iterated vocabulary rewrite
    "sim_topk_cosine",       // float dot products + rank
    "vec_kmeans_lloyd",      // integer-exact iterative assignment
    "graph_label_propagation", // iterative argmax propagation
    "q18_large_orders",      // having-filter over summed floats
    "typed_sorted_streaks",  // engine secondary sort feeding a typed fold
    "typed_cogroup_sorted",  // two-sided sorted merge scan
    "ts_downsample_ohlc")    // min_by/max_by argmin over struct keys

  private val Probe = "agg_pricing_summary"

  /** Collected rows of every sample query under `conf`, plus the shuffle
    * shape of [[Probe]]'s plan, which shows the contrast is real. */
  private def runAll(conf: (String, String)*)
      : (Map[String, Seq[String]], (Seq[Int], Seq[Int])) =
    Tuning.withConf(spark, conf: _*) {
      val rows = sample.map { name =>
        name -> SparkEntry.queries(name)(spark, sf).collect().map(_.toString).toSeq
      }.toMap
      val probe = SparkEntry.queries(Probe)(spark, sf)
      probe.collect()
      (rows, SparkFixture.shuffleShape(probe))
    }

  private def assertSame(a: Map[String, Seq[String]], b: Map[String, Seq[String]],
      what: String): Unit = sample.foreach { name =>
    assert(a(name) == b(name), s"$name changed results with $what")
    assert(a(name).nonEmpty, s"$name returned no rows at smoke scale")
  }

  // the session's initialPartitionNum overrides shuffle.partitions as the
  // pre-coalesce count, so both are set
  private def partitions(n: Int) = Seq(
    "spark.sql.shuffle.partitions" -> n.toString,
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> n.toString)

  test("results are invariant to the shuffle partition count (3 vs 7)") {
    val (at3, (pre3, _)) = runAll(partitions(3): _*)
    val (at7, (pre7, _)) = runAll(partitions(7): _*)
    assert(pre3.contains(3) && pre7.contains(7) && pre3 != pre7,
      s"$Probe must shuffle into 3 vs 7 partitions: $pre3 vs $pre7")
    assertSame(at3, at7, "the shuffle partition count")
  }

  test("results are invariant to AQE's coalescing goal (parallelismFirst true vs false)") {
    // a 1-byte minimum partition size lets parallelismFirst split the
    // smoke fixture's few-KB shuffles across the cores; the session's
    // 1 MB default would coalesce both sides to one partition
    def goal(first: Boolean) = Seq(
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> first.toString,
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1")
    val (byCores, (_, readCores)) = runAll(goal(true): _*)
    val (bySize, (_, readSize)) = runAll(goal(false): _*)
    assert(readCores != readSize,
      s"$Probe must coalesce differently: $readCores vs $readSize")
    assertSame(byCores, bySize, "AQE's coalescing goal")
  }
}
