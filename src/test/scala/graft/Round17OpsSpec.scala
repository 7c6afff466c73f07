package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-17 pins for the r16 verdict items: (1) iteration-round shuffle
  * sizing derives from the edge count instead of the fixture literal,
  * (5) frontier-form label propagation is bit-identical to the dense
  * form at every round horizon, (3) ANN recall holds on ε-JITTERED
  * clones (discrimination, not just routing), and (4) the no-oracle
  * exempt queries (14 since sample_tablesample went content-keyed in
  * r18) are golden-pinned end-to-end at all three fixture scales — each
  * is a pure function of fixture + in-plan seeds, so a Spark or
  * DataSketches upgrade that silently shifts any output fails here
  * instead of drifting unnoticed past the DuckDB gate that cannot see
  * them. */
class Round17OpsSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  private lazy val spark = SparkFixture.spark

  // per-run temp root for the jittered fixture, deleted in afterAll
  // (the Round12/Round15 planted-fixture rule — specs must not leave
  // artifacts under target/)
  private val jitDir =
    java.nio.file.Files.createTempDirectory("r17-jit10").toString

  override def afterAll(): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    rm(new java.io.File(jitDir))
    super.afterAll()
  }

  test("roundPartitions scales with the edge count (and floors at the fixture size)") {
    import graft.Tuning.roundPartitions
    // fixture-scale graphs land on the old floor — plans unchanged at gate scale
    assert(roundPartitions(0L) == 4)
    assert(roundPartitions(1000L) == 4)
    assert(roundPartitions(8L * 1000 * 1000) == 4)
    // past the floor the count is linear in edges at RowsPerRoundPartition
    assert(roundPartitions(20L * 1000 * 1000) == 10)
    assert(roundPartitions(2L * 1000 * 1000 * 1000) == 1000)
    // a 100 TB pair graph (hundreds of billions of edges) gets hundreds
    // of thousands of reducers, not four
    assert(roundPartitions(400L * 1000 * 1000 * 1000) == 200000)
    assert(roundPartitions(Long.MaxValue) == (1 << 20)) // sanity cap only
  }

  test("withRoundPartitions sets BOTH shuffle knobs and restores the previous state") {
    val pk = "spark.sql.shuffle.partitions"
    val ik = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    val prevP = spark.conf.get(pk)
    val prevI = spark.conf.getOption(ik)
    try {
      // case 1: initialPartitionNum previously UNSET → must be unset again
      // afterwards (a leaked value would re-inflate every later query)
      spark.conf.unset(ik)
      Tuning.withRoundPartitions(spark, 20L * 1000 * 1000) {
        assert(spark.conf.get(pk) == "10" && spark.conf.get(ik) == "10")
      }
      assert(spark.conf.get(pk) == prevP && spark.conf.getOption(ik).isEmpty)
      // case 2: previously set (the bench's production-AQE form) → restored
      spark.conf.set(ik, "256")
      Tuning.withRoundPartitions(spark, 0L) {
        assert(spark.conf.get(pk) == "4" && spark.conf.get(ik) == "4")
      }
      assert(spark.conf.get(pk) == prevP && spark.conf.get(ik) == "256")
      // case 3: restore happens on failure too
      intercept[RuntimeException] {
        Tuning.withRoundPartitions(spark, 0L)(throw new RuntimeException("boom"))
      }
      assert(spark.conf.get(pk) == prevP && spark.conf.get(ik) == "256")
    } finally {
      spark.conf.set(pk, prevP)
      prevI.fold(spark.conf.unset(ik))(spark.conf.set(ik, _))
    }
  }

  test("frontier LPA is bit-identical to the dense form at every round horizon") {
    val s = spark
    import s.implicits._
    // chain + bridged clique + isolated pair + star: mixes converged
    // regions (frontier empties), oscillating structure (star), and a
    // slow-propagating chain, so every frontier branch (empty delta,
    // partial delta, full relabel) is exercised
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),          // chain
      (10L, 11L), (10L, 12L), (11L, 12L), (5L, 10L),   // clique bridged to chain
      (20L, 21L),                                      // isolated pair
      (30L, 31L), (30L, 32L), (30L, 33L), (30L, 34L))  // star
      .toDF("doc_a", "doc_b")
    // the dense reference: the pre-r17 formulation — every node
    // re-aggregates its full vote multiset every round
    def dense(iters: Int): Map[Long, Long] = {
      val edges = pairs.select($"doc_a".as("src"), $"doc_b".as("dst"))
        .union(pairs.select($"doc_b".as("src"), $"doc_a".as("dst")))
      var labels = edges.select($"src".as("id")).distinct()
        .select($"id", $"id".as("lbl"))
      for (_ <- 1 to iters) {
        labels = edges.join(labels, edges("dst") === labels("id"))
          .groupBy($"src", $"lbl").agg(count(lit(1)).as("c"))
          .groupBy($"src")
          .agg(min(struct((-$"c").as("nc"), $"lbl".as("l"))).as("m"))
          .select($"src".as("id"), $"m.l".as("lbl"))
      }
      labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    (1 to 5).foreach { iters =>
      // force the FRONTIER form (the planted graph is below the
      // stats-based switch, so the default would take the dense path)
      val frontier = graft.llm.GraphOps
        .labelPropagationOnPairs(spark, pairs, iters, frontierMinEdges = 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(frontier == dense(iters), s"frontier ≠ dense at iters=$iters")
      // ...and the default (stats-chosen) path must agree too
      val auto = graft.llm.GraphOps.labelPropagationOnPairs(spark, pairs, iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(auto == dense(iters), s"default path ≠ dense at iters=$iters")
    }
  }

  test("ANN recall@10 ≥ 8 on ε-jittered clones (discrimination, not just routing)") {
    // 10× replica of the sf0.001 embeddings where replicas 1..9 are
    // ε-perturbed (deterministic hash noise, amp 0.05 ≈ cosine 0.975 to
    // the parent): the exact top-10 is a RANKING among near-duplicates
    // the index has to discriminate — the r16 verbatim-clone caveat.
    // Floors pinned one notch under the measured 10/10 (jittered 10×
    // and 100× of sf0.1 both read 10/10 for lsh/ivf/pq — SCALE.md r17).
    val dir = jitDir
    Replicas.jitterReplica(spark, SparkFixture.Sf, dir, 10)
    val exact = graft.llm.VectorOps.simTopkCosine(spark, dir).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val got = Map(
      "lsh" -> graft.llm.EmbedLsh.simAnnLsh(spark, dir),
      "ivf" -> graft.llm.IvfAnn.simAnnIvf(spark, dir),
      "pq" -> graft.llm.PqAnn.simAnnPq(spark, dir))
      .map { case (k, df) =>
        k -> df.collect().map(_.getAs[Long]("vec_id")).toSet.intersect(exact).size }
    got.foreach { case (k, r) =>
      assert(r >= 8, s"$k recall@10 on jittered clones fell to $r/10")
    }
  }

  test("golden pins: every no-oracle exempt query hashes to its recorded value") {
    // values recorded with Golden.hash on Spark 4.1.2,
    // 2026-08-15 (r18: re-recorded for the injective canonical form —
    // strings JSON-quoted — and extended to sf0.1, the bench scale where
    // a plan-affecting regression would actually bite; r17 verdict item
    // 3), and re-verified identical in a second fresh session (this
    // suite's own SparkFixture session); Golden.hash sorts columns and
    // rows, so partitioning/order can't move them — a mismatch is a
    // genuine output change. sample_tablesample left the exempt list in
    // r18 (content-keyed draw → DuckDB-oracled, no pin needed). To
    // re-record a pin, copy the `got` value the mismatch message below
    // prints for that query@sf.
    val pinned = Map(
      ("agg_approx_distinct", "/root/testdata/sf0.001") -> "d47018d8fad10289",
      ("agg_approx_percentile", "/root/testdata/sf0.001") -> "e692439d96b9aba8",
      ("agg_count_min_sketch", "/root/testdata/sf0.001") -> "199d1226ed9f25f3",
      ("dedup_embed_cosine", "/root/testdata/sf0.001") -> "fcd6c83dc40d4cf7",
      ("dedup_fuzzy_minhash", "/root/testdata/sf0.001") -> "d0acd88ef70cf25a",
      ("dedup_simhash", "/root/testdata/sf0.001") -> "1b54e65931085dbb",
      ("mm_decode_stub", "/root/testdata/sf0.001") -> "ecd1d84e08144225",
      ("mm_image_phash", "/root/testdata/sf0.001") -> "7aaffa8b3667340d",
      ("mm_resize_stub", "/root/testdata/sf0.001") -> "e18c33cadea87ef6",
      ("sim_ann_ivf", "/root/testdata/sf0.001") -> "a82b6abd26685d5f",
      ("sim_ann_lsh", "/root/testdata/sf0.001") -> "38e631a68da3df81",
      ("sim_ann_pq", "/root/testdata/sf0.001") -> "38e631a68da3df81",
      ("text_compression_ratio", "/root/testdata/sf0.001") -> "ba1ba488c7ff4e2a",
      ("text_fingerprint", "/root/testdata/sf0.001") -> "d5dce3132b49855b",
      ("agg_approx_distinct", "/root/testdata/sf0.01") -> "4b4b56835e98dd1c",
      ("agg_approx_percentile", "/root/testdata/sf0.01") -> "aac6948c19517a0c",
      ("agg_count_min_sketch", "/root/testdata/sf0.01") -> "e5b43d2def096062",
      ("dedup_embed_cosine", "/root/testdata/sf0.01") -> "505aff41cc245d08",
      ("dedup_fuzzy_minhash", "/root/testdata/sf0.01") -> "fdf29f2fc2bbac43",
      ("dedup_simhash", "/root/testdata/sf0.01") -> "a50ffc2fac5d9a62",
      ("mm_decode_stub", "/root/testdata/sf0.01") -> "54ea3382ff1540ab",
      ("mm_image_phash", "/root/testdata/sf0.01") -> "f975b2f3844d987c",
      ("mm_resize_stub", "/root/testdata/sf0.01") -> "0d4bdf368f6a3b01",
      ("sim_ann_ivf", "/root/testdata/sf0.01") -> "9981d9f2a42324c6",
      ("sim_ann_lsh", "/root/testdata/sf0.01") -> "9981d9f2a42324c6",
      ("sim_ann_pq", "/root/testdata/sf0.01") -> "9981d9f2a42324c6",
      ("text_compression_ratio", "/root/testdata/sf0.01") -> "6e9d7e564a69ec00",
      ("text_fingerprint", "/root/testdata/sf0.01") -> "02ca506ff7603f82",
      ("agg_approx_distinct", "/root/testdata/sf0.1") -> "45798ecca0017f23",
      ("agg_approx_percentile", "/root/testdata/sf0.1") -> "38487bd570d552fa",
      ("agg_count_min_sketch", "/root/testdata/sf0.1") -> "097db0b7f8f15778",
      ("dedup_embed_cosine", "/root/testdata/sf0.1") -> "fff677d0fa1c228b",
      ("dedup_fuzzy_minhash", "/root/testdata/sf0.1") -> "d196ef0b86030387",
      ("dedup_simhash", "/root/testdata/sf0.1") -> "d518dbe5dee287e4",
      ("mm_decode_stub", "/root/testdata/sf0.1") -> "b7803a6d1ceb027d",
      ("mm_image_phash", "/root/testdata/sf0.1") -> "cbbbf3b1fb8a85d9",
      ("mm_resize_stub", "/root/testdata/sf0.1") -> "3f89184706710d77",
      ("sim_ann_ivf", "/root/testdata/sf0.1") -> "e7b788728bf960cd",
      ("sim_ann_lsh", "/root/testdata/sf0.1") -> "e7b788728bf960cd",
      ("sim_ann_pq", "/root/testdata/sf0.1") -> "e7b788728bf960cd",
      ("text_compression_ratio", "/root/testdata/sf0.1") -> "03383a0a7efc455b",
      ("text_fingerprint", "/root/testdata/sf0.1") -> "7081a9ae8121ab30")
    // completeness: the pins cover EXACTLY the exempt set — the
    // declared queries without oracle SQL — at all three fixture scales;
    // an exempt added without a pin (or a pin for a query that gained an
    // oracle) fails here, not silently
    val exempt = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val scales = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
      "/root/testdata/sf0.1")
    assert(pinned.keySet == (for (q <- exempt; sf <- scales) yield (q, sf)))
    val bad = pinned.toSeq.sortBy(_._1).flatMap { case ((q, sf), want) =>
      val got = Golden.hash(SparkEntry.queries(q)(spark, sf))
      if (got == want) None else Some(s"$q@$sf: got $got, pinned $want")
    }
    // (the lsh == pq @sf0.001 and lsh == ivf == pq @sf0.01/sf0.1
    // coincidences are real: all three indexes rank verified candidates
    // by the same exact cosine, so equal hashes = same top-10 —
    // consistent with the measured 10/10 recall, not a copy-paste error
    // in the pins)
    assert(bad.isEmpty, bad.mkString("; "))
  }
}
