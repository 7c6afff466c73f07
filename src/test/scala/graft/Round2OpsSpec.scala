package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.{Changelog, StreamingLatest}
import graft.llm.{IvfAnn, TextOps, VectorOps}
import graft.rel.Relational

/** Specs for the round-2 operator additions (SURVEY.md §2.2 updates):
  * outer/range joins, distribution windows, conditional aggregation,
  * SCD2 history, IVF ANN, text cleaning, and streaming dedup. */
class Round2OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val sf = SparkFixture.Sf

  test("join_outer_coalesce: one row per order, unmatched orders get 0") {
    val s = spark
    import s.implicits._
    val out = Relational.joinOuterCoalesce(spark, sf)
    assert(out.count() == Tables.orders(spark, sf).count())
    assert(out.filter($"recent_revenue" === 0.0 && $"n_recent_items" === 0).count() > 0)
    assert(out.filter($"recent_revenue" < 0.0).count() == 0)
  }

  test("join_range_bucketed agrees with the naive theta-join on a sample") {
    val s = spark
    import s.implicits._
    val out = Relational.joinRangeBucketed(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // naive recount for 5 error events
    val ev = Tables.events(spark, sf)
      .select($"event_id", $"event_type", expr("ts_ns div 1000").as("us"))
    val errs = ev.filter($"event_type" === "error").limit(5).collect()
    val clicks = ev.filter($"event_type" === "click")
      .select($"us").collect().map(_.getLong(0))
    errs.foreach { e =>
      val us = e.getAs[Long]("us")
      val expected = clicks.count(c => math.abs(c - us) <= 300000000L)
      assert(out.getOrElse(e.getAs[Long]("event_id"), 0L) == expected)
    }
  }

  test("window_ntile_rank: quartiles balanced, pct_rank within [0,1]") {
    val s = spark
    import s.implicits._
    val out = Relational.windowNtileRank(spark, sf)
    assert(out.filter($"pct_rank" < 0.0 || $"pct_rank" > 1.0).count() == 0)
    val sizes = out.groupBy($"c_mktsegment", $"quartile").count()
      .groupBy($"c_mktsegment").agg((max($"count") - min($"count")).as("spread"))
    assert(sizes.filter($"spread" > 1).count() == 0) // ntile balance invariant
  }

  test("window_range_days >= own totalprice and >= rows-frame equivalent lower bound") {
    val s = spark
    import s.implicits._
    val joined = Relational.windowRangeDays(spark, sf)
      .join(Tables.orders(spark, sf), "o_orderkey")
    assert(joined.filter($"rev_30d" < $"o_totalprice" - 0.01).count() == 0)
  }

  test("agg_conditional counts partition the total") {
    val s = spark
    import s.implicits._
    val out = Relational.aggConditional(spark, sf)
    assert(out.filter($"n_big" > $"n_orders" || $"n_open_small" > $"n_orders").count() == 0)
    val n = out.agg(sum($"n_orders")).collect().head.getLong(0)
    assert(n == Tables.orders(spark, sf).count())
  }

  test("cdc_scd2_history: intervals chain per key, one current row per key") {
    val s = spark
    import s.implicits._
    val h = Changelog.scd2History(spark, sf)
    val keys = Tables.events(spark, sf).select($"user_id").distinct().count()
    assert(h.filter($"is_current" === 1).count() == keys)
    // next version starts exactly where the previous one ends
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"valid_from_us", $"event_id")
    val broken = h.withColumn("next_from", lead($"valid_from_us", 1).over(w))
      .filter($"valid_to_us".isNotNull && $"valid_to_us" =!= $"next_from")
    assert(broken.count() == 0)
  }

  test("sim_ann_ivf: deterministic, correctly ranked, overlaps exact top-10") {
    val ann1 = IvfAnn.simAnnIvf(spark, sf).collect()
    val ann2 = IvfAnn.simAnnIvf(spark, sf).collect()
    assert(ann1.toSeq == ann2.toSeq)
    assert(ann1.nonEmpty && ann1.length <= 10)
    val cos = ann1.map(_.getAs[Double]("cos_sim")).toSeq
    assert(cos == cos.sorted.reverse)
    val exact = VectorOps.simTopkCosine(spark, sf).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    // pinned recall@10 vs the exact panel: IVF measures 9/10 at sf0.001
    // and 10/10 at sf0.01/0.1 (round 5, SCALE.md) — threshold 8 makes
    // an nprobe/centroid regression fail loudly instead of decaying to
    // "nonEmpty overlap"
    val recall = ann1.map(_.getAs[Long]("vec_id")).toSet.intersect(exact).size
    assert(recall >= 8, s"IVF recall@10 regressed: $recall/10 (recorded 9/10)")
  }

  test("text_clean_normalize: cleaning is idempotent on already-clean text") {
    val s = spark
    import s.implicits._
    // corpus text is lowercase space-separated -> cleaning must be identity
    val joined = TextOps.cleanNormalize(spark, sf)
      .join(Tables.documents(spark, sf), "doc_id")
      .filter(md5($"text") =!= $"clean_md5" || length($"text") =!= $"clean_len")
    assert(joined.count() == 0)
  }

  test("agg_approx_percentile tracks the exact percentiles") {
    val s = spark
    import s.implicits._
    val approx = Relational.aggApproxPercentile(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(3))).toMap
    val exact = Relational.aggPercentiles(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(3))).toMap
    exact.foreach { case (flag, (p50q, p50p)) =>
      val (a50q, a50p) = approx(flag)
      assert(math.abs(a50q - p50q) <= math.max(1.0, p50q * 0.05))
      assert(math.abs(a50p - p50p) <= p50p * 0.05)
    }
  }

  test("join_salted_skew equals the plain join aggregate") {
    val s = spark
    import s.implicits._
    val salted = Relational.joinSaltedSkew(spark, sf).collect()
    val plain = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    salted.foreach { r =>
      assert(r.getAs[Long]("n_orders") == plain(r.getAs[String]("c_mktsegment")))
    }
  }

  test("range-join pushes the event-type filters into the parquet scan") {
    val plan = Relational.joinRangeBucketed(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(event_type,error)"), "error-side filter not pushed")
    assert(plan.contains("EqualTo(event_type,click)"), "click-side filter not pushed")
  }

  test("custom codegen expressions are present in the physical plans") {
    val cosine = graft.llm.VectorOps.simTopkCosine(spark, sf)
      .queryExecution.executedPlan.toString
    assert(cosine.contains("vec_dot_f"), "FloatVecDot missing from cosine plan")
    // the verified pair set is now staged once per session behind a
    // localCheckpoint (TextOps.ngramJaccardPairs), so assert the
    // merge-scan verifier on the uncached pipeline
    val jacc = graft.llm.TextOps.ngramJaccardPairsUncached(spark, sf)
      .queryExecution.executedPlan.toString
    assert(jacc.contains("sorted_intersect_count"), "merge-scan verifier missing from plan")
    // the shingle hashing now runs once BEHIND the pair pipeline's
    // localCheckpoint (materialized at construction), so assert it on the
    // tokenization projection itself
    val s2 = spark
    import s2.implicits._
    val sets = Tables.documents(spark, sf).select(
      graft.functions.ShingleFunctions.word_shingle_hashes($"text", 3, sorted = true).as("t"))
    assert(sets.queryExecution.executedPlan.toString.contains("word_shingle_hashes"),
      "WordShingleHashes missing from tokenization plan")
    // the banded LSH id table is materialized once behind a
    // localCheckpoint, so assert the bucketing expression on its own
    // projection (same reasoning as the shingle assertion above)
    val buckets = Tables.embeddings(spark, sf).select(
      graft.functions.LshFunctions.vec_lsh_buckets($"embedding",
        graft.llm.EmbedLsh.planes).as("b"))
    assert(buckets.queryExecution.executedPlan.toString.contains("vec_lsh_buckets"),
      "FloatVecLshBuckets missing from bucketing plan")
  }

  test("q5_local_supplier: customer chain unhinted, AQE picks BHJ at bench scale") {
    // the customer-derived dim chain must NOT carry a forced broadcast
    // (a hint is honored regardless of size — at 100× it would OOM);
    // AQE is still expected to CHOOSE broadcast at this scale. Run the
    // query so the adaptive final plan is the one inspected.
    val df = Relational.q5LocalSupplier(spark, sf)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.split("BroadcastHashJoin").length >= 3,
      "expected AQE-chosen broadcast joins (dim chain + supplier) at bench scale")
    assert(!plan.contains("BroadcastNestedLoop"))
  }

  test("scale-sensitive join plans avoid nested loops / cartesian products") {
    Seq(
      Relational.joinRangeBucketed(spark, sf),
      Relational.joinSaltedSkew(spark, sf),
      graft.llm.TextOps.ngramJaccard(spark, sf),
      // wedge enumeration + closure must stay equi-joins (the struct
      // comparison is a residual, not the join condition)
      graft.llm.GraphOps.triangleCount(spark, sf)
    ).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoop"), "nested loop join leaked into plan")
      assert(!plan.contains("CartesianProduct"), "cartesian product leaked into plan")
    }
  }

  test("connected components: planted chains collapse transitively, components stay disjoint") {
    val s = spark
    import s.implicits._
    // chain 1-2-3-4 (never directly paired end to end), island 10-11, singleton pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L)).toDF("doc_a", "doc_b")
    val out = TextOps.connectedComponents(spark, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("mm_resize_stub: real decode+downsample — block averages match an independent recomputation") {
    val s = spark
    import s.implicits._
    val MM = graft.mm.MultiModal
    val out = MM.resizeFeatures(spark, sf).collect()
    assert(out.toSeq == MM.resizeFeatures(spark, sf).collect().toSeq,
      "resize not deterministic across runs")
    val texts = Tables.documents(spark, sf).select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    out.foreach { r =>
      val seed = texts(r.getAs[Long]("media_id"))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val (w, h) = (MM.BmpWidth, MM.bmpHeight(seed.length))
      assert(r.getAs[Int]("orig_w") == w && r.getAs[Int]("orig_h") == h)
      val (rw, rh) = (math.max(1, w / MM.ResizeFactor), math.max(1, h / MM.ResizeFactor))
      assert(r.getAs[Int]("resized_w") == rw && r.getAs[Int]("resized_h") == rh)
      // recompute the box-filter averages from the pixel function alone —
      // no codec involved — and compare the exact pixel sum
      var expect = 0L
      for (by <- 0 until rh; bx <- 0 until rw) {
        val y1 = if (by == rh - 1) h else (by + 1) * MM.ResizeFactor
        val x1 = if (bx == rw - 1) w else (bx + 1) * MM.ResizeFactor
        var (rs, gs, bs, n) = (0L, 0L, 0L, 0L)
        for (y <- by * MM.ResizeFactor until y1; x <- bx * MM.ResizeFactor until x1) {
          val (pr, pg, pb) = MM.pixelChannels(seed, x, y)
          rs += pr; gs += pg; bs += pb; n += 1
        }
        expect += rs / n + gs / n + bs / n
      }
      assert(r.getAs[Long]("resized_pixel_sum") == expect,
        s"resized pixel sum diverged for media ${r.getAs[Long]("media_id")}")
    }
  }

  test("cdc_stream_sessionize: closed sessions match batch, completeness bound holds") {
    val s = spark
    import s.implicits._
    val streamed = StreamingLatest.streamSessionize(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    // batch sessions with window end, same decimal aggregation
    val batchSessions = Tables.events(spark, sf)
      .groupBy(session_window($"ts", "30 minutes").as("sw"), $"user_id")
      .agg(count(lit(1)).as("n_events"),
        round(sum($"value".cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double"), 4).as("sum_value"))
      .select($"user_id", unix_micros($"sw.start").as("start_us"),
        unix_micros($"sw.end").as("end_us"), $"n_events", $"sum_value")
      .collect()
    val batchMap = batchSessions
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(3), r.getDouble(4))).toMap
    // every streamed session is a batch session, values identical
    streamed.foreach { case (k, v) => assert(batchMap(k) == v) }
    // completeness: sessions that closed >1h before the stream's end must be emitted
    val maxTs = Tables.events(spark, sf).agg(max(unix_micros($"ts"))).collect().head.getLong(0)
    val watermark = maxTs - 3600L * 1000000L
    batchSessions.filter(_.getLong(2) < watermark).foreach { r =>
      assert(streamed.contains((r.getLong(0), r.getLong(1))),
        s"closed session missing from streaming output: user=${r.getLong(0)}")
    }
  }

  test("stateful latest-wins is state-store-agnostic (RocksDB ≡ HDFS-backed)") {
    // the one-key deployment switch: the RocksDB provider alone, with
    // changelog checkpointing off, so every commit uploads a snapshot
    val rocks = Tuning.withConf(spark, "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      StreamingLatest.streamStateful(spark, sf).collect().toSeq
    }
    assert(rocks == Changelog.latestState(spark, sf).collect().toSeq,
      "RocksDB-backed streaming state diverged from batch latest-wins")
    // the joins on RocksDB with changelog checkpointing plus the
    // single-store join state format; they write no state-store key, so
    // they run on what the session sets
    val joinLayout = StreamingLatest.StateLayout.RocksDb.conf :+
      ("spark.sql.streaming.join.stateFormatVersion" -> "3")
    val joins = Seq[(String, (SparkSession, String) => DataFrame)](
      "cdc_stream_join" -> StreamingLatest.streamJoin,
      "cdc_stream_join_full" -> StreamingLatest.streamJoinFull)
    def rows(q: (SparkSession, String) => DataFrame) = q(spark, sf).collect().toSeq
    val onDefault = joins.map { case (name, q) => name -> rows(q) }
    val onRocks = Tuning.withConf(spark, joinLayout: _*) {
      joins.map { case (name, q) => name -> rows(q) }
    }
    for (((name, want), (_, got)) <- onDefault.zip(onRocks)) {
      assert(want.nonEmpty, s"$name returned no rows")
      assert(got == want, s"$name on RocksDB with join state format v3 diverged from its default run")
    }
  }

  test("cdc_stream_dedup: doubled replay collapses to single-copy counts") {
    val s = spark
    import s.implicits._
    val out = StreamingLatest.streamDedup(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.events(spark, sf).groupBy($"event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == exact)
  }
}
