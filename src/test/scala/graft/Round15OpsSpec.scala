package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-15 planted-fixture evidence for the four queries whose
  * correctness previously rested only on the sf0.01 DuckDB parity run
  * (r12 verdict item 2): BFS hop relaxation, ratio-to-report shares,
  * the deterministic Poisson(1) bootstrap draw, and the cohort-drift
  * statistics. Each test computes the expected answer INDEPENDENTLY
  * (closed form or a from-scratch reimplementation), never by running
  * the query twice. */
class Round15OpsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkFixture.spark

  private val TmpRoot = StageDirs.target("r15-tmp")

  private def tmp(prefix: String): String = {
    import java.nio.file.Files
    Files.createTempDirectory(Files.createDirectories(TmpRoot), prefix).toString
  }

  // planted fixtures are read-and-collected inside each test, so the
  // whole root can go when the suite ends (r15 advisor note: the temp
  // dirs otherwise accumulate across test runs)
  override def afterAll(): Unit =
    StageDirs.rm(TmpRoot)

  test("bfs: planted 2-component graph — exact hops, multi-source min, 4-round horizon") {
    val s = spark
    import s.implicits._
    // Component A: a 7-node path from seed 0 (the only id % 25 == 0
    // member): nodes 5 and 6 sit at hops 5 and 6 — past the 4-round
    // horizon, so they must be ABSENT (no sentinel rows).
    // Component B: a star at seed 50 with a 2-hop tail through 101.
    // Component C: a path whose ends are BOTH seeds (75 and 25) — the
    // interior nodes must take the minimum over the two sources.
    val pairs = Seq(
      (0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (50L, 101L), (50L, 102L), (50L, 103L), (101L, 201L),
      (75L, 76L), (76L, 77L), (77L, 25L)
    ).toDF("doc_a", "doc_b")
    val got = graft.llm.GraphOps.bfsOnPairs(spark, pairs)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val expected = Map(
      0L -> 0, 1L -> 1, 2L -> 2, 3L -> 3, 4L -> 4,
      50L -> 0, 101L -> 1, 102L -> 1, 103L -> 1, 201L -> 2,
      75L -> 0, 25L -> 0, 76L -> 1, 77L -> 1)
    assert(got == expected,
      s"BFS hops diverged: got $got")
    assert(!got.contains(5L) && !got.contains(6L),
      "nodes past the 4-round horizon must be absent, not sentinel-valued")
  }

  test("bfs: randomized graph equals a driver-side reference BFS (seeded)") {
    val s = spark
    import s.implicits._
    // seeded sparse random graph: 240 nodes, 360 edges — several seeds
    // (id % 25 == 0 among nodes present in edges), several components,
    // and an unreached tail. The reference is an independent queue BFS.
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(360)((rnd.nextInt(240).toLong, rnd.nextInt(240).toLong))
      .filter { case (a, b) => a != b }.distinct
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    val nodes = adj.keySet
    val seeds = nodes.filter(_ % 25 == 0)
    val dist = scala.collection.mutable.Map(seeds.map(_ -> 0).toSeq: _*)
    var frontier = seeds.toSeq
    for (d <- 1 to 4) {
      frontier = frontier.flatMap(adj(_)).distinct.filterNot(dist.contains)
      frontier.foreach(dist(_) = d)
    }
    val got = graft.llm.GraphOps.bfsOnPairs(spark, edges.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == dist.toMap,
      s"random-graph BFS diverged from reference (seed 7): " +
        s"only-got=${(got.keySet -- dist.keySet).toSeq.sorted.take(5)} " +
        s"only-ref=${(dist.keySet.toSet -- got.keySet).toSeq.sorted.take(5)}")
  }

  test("hll lgK=15: exact coupon regime covers the fixtures with 2x margin, then estimates") {
    val s = spark
    import s.implicits._
    def est(n: Long): Long = s.sql(
      s"SELECT CAST(hll_sketch_estimate(hll_sketch_agg(id, 15)) AS LONG) FROM range($n)")
      .collect()(0).getLong(0)
    // exact regime: the declared oracle's load-bearing claim — 3000 is
    // 2x the largest fixture cardinality (1500 users at sf0.1)
    assert(est(1500) == 1500L && est(3000) == 3000L,
      "lgK=15 sketch left its exact coupon regime below 2x fixture scale")
    // estimate regime: past coupon capacity the same plan degrades to
    // a bounded estimate, not garbage (±0.4% RSE nominal; assert 1%)
    val e = est(100000)
    assert(math.abs(e - 100000L) < 1000,
      s"estimate regime off: $e for 100000")
  }

  test("ratio_to_report: planted spend history — exact shares, cumshares, HALF_UP edge") {
    val s = spark
    import s.implicits._
    val dir = tmp("rtr")
    def ts(d: String) = java.sql.Timestamp.valueOf(s"$d 00:00:00")
    Seq(
      // customer 1: 100 + 300 — shares 0.25 / 0.75, cum 0.25 / 1.0
      (10L, 1L, ts("1995-01-01"), 100.0),
      (11L, 1L, ts("1995-02-01"), 300.0),
      // customer 2: a single order is its own total — share 1.0
      (20L, 2L, ts("1995-01-15"), 50.0),
      // customer 3: thirds — pins the HALF_UP 4-digit quantize
      // (1/3 -> 0.3333, 2/3 -> 0.6667)
      (30L, 3L, ts("1995-01-01"), 100.0),
      (31L, 3L, ts("1995-02-01"), 200.0)
    ).toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = graft.rel.Modern.windowRatioToReport(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val expected = Seq(
      (1L, 10L, 0.25, 0.25), (1L, 11L, 0.75, 1.0),
      (2L, 20L, 1.0, 1.0),
      (3L, 30L, 0.3333, 0.3333), (3L, 31L, 0.6667, 1.0))
    assert(got.toSeq == expected, s"shares diverged: ${got.toSeq}")
  }

  test("poisson bootstrap: planted corpus equals a from-scratch md5 inverse-CDF replay") {
    val s = spark
    import s.implicits._
    val dir = tmp("boot")
    val docs = (1L to 60L).map { id =>
      (id, "t", if (id % 2 == 0) "aa" else "bb", "src", 100L + id)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // independent reimplementation of the deterministic draw: first md5
    // hex byte of the decimal doc_id, thresholds 94/188/235/251
    def kOf(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val b = Integer.parseInt(hex.substring(0, 2), 16)
      if (b < 94) 0L else if (b < 188) 1L else if (b < 235) 2L
      else if (b < 251) 3L else 4L
    }
    val expected = docs.groupBy(_._3).map { case (lang, ds) =>
      val nOrig = ds.size.toLong
      val charsOrig = ds.map(_._5).sum
      val nBoot = ds.map(d => kOf(d._1)).sum
      val charsBoot = ds.map(d => kOf(d._1) * d._5).sum
      // the quantizer is replicated as Det.r4's exact IEEE construction
      // (the independent part of this test is the md5 draw, not rounding)
      lang -> ((nOrig, charsOrig, nBoot, charsBoot,
        math.floor(nBoot.toDouble / nOrig.toDouble * 10000.0 + 0.5) / 10000.0))
    }
    // the planted ids must exercise more than one k bucket, or the test
    // proves nothing about the thresholds
    assert((1L to 60L).map(kOf).distinct.size >= 3)
    val got = graft.llm.TextOps.samplePoissonBootstrap(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    assert(got == expected, s"bootstrap report diverged: $got vs $expected")
  }

  test("embed drift: planted shifted cohort — exact means, delta, centroid cosine") {
    val s = spark
    import s.implicits._
    val dir = tmp("drift")
    // cohort 0 (even vec_id): [1,2], [3,2] -> means (2, 2)
    // cohort 1 (odd vec_id):  [2,4], [2,4] -> means (2, 4): dim 1
    // shifted by +2, dim 0 unmoved. centroid cosine =
    // 12 / (sqrt(8) * sqrt(20)) = 0.948683... -> r4s 0.9487
    Seq(
      (0L, Seq(1.0f, 2.0f), 0),
      (2L, Seq(3.0f, 2.0f), 0),
      (1L, Seq(2.0f, 4.0f), 1),
      (3L, Seq(2.0f, 4.0f), 1)
    ).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = graft.llm.VectorOps.embedDriftStats(spark, dir)
      .collect().map(r =>
        (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    val expected = Seq(
      (0, 2.0, 2.0, 0.0, 0.9487),
      (1, 2.0, 4.0, 2.0, 0.9487))
    assert(got.toSeq == expected, s"drift stats diverged: ${got.toSeq}")
  }
}
