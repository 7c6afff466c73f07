package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{MinHash, TextOps, VectorOps}

class LlmSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val sf = SparkFixture.Sf

  test("text_bpe_pair_counts: weighted pair counts equal a naive corpus recount") {
    val s = spark
    import s.implicits._
    val out = graft.llm.TextOps.bpePairCounts(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 20 && out.sortBy(_._1).toSeq == out.toSeq)
    // naive recount straight off the token stream (no vocab collapse):
    // pair -> (corpus-weighted count, vocab occurrence count)
    val wordCounts = Tables.documents(spark, sf).select($"text").collect()
      .flatMap(_.getString(0).split(" ", -1)).filter(_.length >= 2)
      .groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
    val naive = wordCounts.toSeq.flatMap { case (w, c) =>
      w.sliding(2).map(p => (p, c))
    }.groupBy(_._1).map { case (p, xs) => p -> (xs.map(_._2).sum, xs.length.toLong) }
    out.foreach { case (pair, nPairs, nVocab) =>
      assert(naive(pair) == ((nPairs, nVocab)),
        s"pair $pair: got ($nPairs,$nVocab) expected ${naive(pair)}")
    }
    // the top-20 really are the global maxima under (count desc, pair)
    val top = naive.toSeq.sortBy { case (p, (n, _)) => (-n, p) }.take(20).map(_._1).sorted
    assert(out.map(_._1).toSeq == top)
  }

  test("text_bigram_logprob: per-doc mean NLL equals a naive single-box recount") {
    val s = spark
    import s.implicits._
    val out = TextOps.bigramLogprob(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bigrams"), r.getAs[Double]("avg_nll")))
    // naive recount: all bigrams with doc ids, conditional counts, same
    // 1e-6 ln quantization and half-up 4dp rounding
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
    val all = docs.flatMap { case (id, ts) =>
      ts.sliding(2).filter(_.length == 2).map(p => (id, p(0), p(0) + " " + p(1)))
    }
    val bgCnt = all.groupBy(_._3).map { case (k, xs) => k -> xs.length }
    val w1Cnt = all.groupBy(_._2).map { case (k, xs) => k -> xs.length }
    def q6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val expect = all.groupBy(_._1).map { case (id, xs) =>
      val nlls = xs.map { case (_, w1, bg) =>
        BigDecimal(q6(math.log(w1Cnt(w1)) - math.log(bgCnt(bg)))) }
      id -> (xs.length.toLong,
        math.floor((nlls.sum / xs.length).toDouble * 1e4 + 0.5) / 1e4)
    }
    assert(out.length == expect.size)
    out.foreach { case (id, n, nll) =>
      assert(expect(id) == ((n, nll)), s"doc $id: got ($n,$nll) expected ${expect(id)}")
    }
    // sanity: a document that repeats one bigram has lower avg NLL than
    // the corpus median (predictable transitions score low)
    assert(out.map(_._3).forall(v => v >= 0.0))
  }

  test("dedup_substring_spans: per-doc duplicated-span accounting matches a raw-string recount") {
    val s = spark
    import s.implicits._
    val out = TextOps.dedupSubstringSpans(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_spans"),
        r.getAs[Long]("n_dup_spans"), r.getAs[Double]("dup_frac")))
    // naive recount on raw strings (no hashing): distinct 8-token spans
    // per doc, global doc-count per span, per-doc dup accounting
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
      .filter(_._2.length >= 8)
    val spans = docs.map { case (id, ts) =>
      id -> ts.sliding(8).filter(_.length == 8).map(_.mkString(" ")).toSet }
    val docCount = spans.flatMap { case (id, ss) => ss.map(_ -> id) }
      .groupBy(_._1).map { case (sp, xs) => sp -> xs.map(_._2).distinct.length }
    val expect = spans.map { case (id, ss) =>
      val dup = ss.count(docCount(_) >= 2)
      id -> (ss.size.toLong, dup.toLong,
        math.floor(dup.toDouble / ss.size * 1e4 + 0.5) / 1e4)
    }.toMap
    assert(out.length == expect.size)
    out.foreach { case (id, n, d, f) =>
      assert(expect(id) == ((n, d, f)), s"doc $id: got ($n,$d,$f) expected ${expect(id)}")
    }
    // the fixture contains exact duplicate docs, so duplicated spans exist
    assert(out.map(_._3).sum > 0, "fixture should contain cross-doc repeated spans")
  }

  test("dedup_exact output is a subset of input ids; hash variant agrees") {
    val s = spark
    import s.implicits._
    val ded  = TextOps.dedupExact(spark, sf).collect()
    val ids  = Tables.documents(spark, sf).select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(ded.forall(r => ids.contains(r.getAs[Long]("doc_id"))))
    assert(ded.map(_.getAs[Long]("n_dups")).sum == ids.size)
    val viaHash = TextOps.dedupExactHash(spark, sf).collect()
    assert(viaHash.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      ded.map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  test("minhash finds all exact duplicates with estimated Jaccard 1.0") {
    val s = spark
    import s.implicits._
    // plant exact dups: copy 5 docs with shifted ids
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val copies = docs.filter($"doc_id" < 5).withColumn("doc_id", $"doc_id" + 100000L)
    val sigs = MinHash.signatures(docs.union(copies))
    val b = MinHash.bands(sigs)
    val a  = b.select($"doc_id".as("doc_a"), $"sig".as("sig_a"), $"band", $"band_hash")
    val c  = b.select($"doc_id".as("doc_b"), $"sig".as("sig_b"), $"band", $"band_hash")
    val pairs = a.join(c, Seq("band", "band_hash")).filter($"doc_a" < $"doc_b")
      .dropDuplicates("doc_a", "doc_b")
      .select($"doc_a", $"doc_b", MinHash.estJaccard($"sig_a", $"sig_b").as("j"))
      .filter($"doc_b" >= 100000L && $"doc_a" === $"doc_b" - 100000L)
      .collect()
    assert(pairs.length == 5, s"found ${pairs.length} of 5 planted dup pairs")
    assert(pairs.forall(_.getAs[Double]("j") == 1.0))
  }

  test("estimated Jaccard of a signature with itself is 1") {
    val s = spark
    import s.implicits._
    val sigs = MinHash.signatures(Tables.documents(spark, sf).limit(10))
    val self = sigs.select(MinHash.estJaccard($"sig", $"sig").as("j")).collect()
    assert(self.forall(_.getDouble(0) == 1.0))
  }

  test("shingles: k consecutive tokens, short docs fall back to whole text") {
    val s = spark
    import s.implicits._
    val df = Seq("a b c d", "a b").toDF("text")
      .select(MinHash.shinglesCol($"text").as("sh")).collect()
    assert(df(0).getSeq[String](0) == Seq("a b c", "b c d"))
    assert(df(1).getSeq[String](0) == Seq("a b"))
  }

  test("cosine similarity of a vector with itself is 1; range is [-1,1]") {
    val s = spark
    import s.implicits._
    val e = Tables.embeddings(spark, sf)
    val probe = e.filter($"vec_id" === 0).select($"embedding".as("p"))
    val self = e.filter($"vec_id" === 0).crossJoin(probe)
      .select((VectorOps.dot($"embedding", $"p") /
        (VectorOps.l2Norm($"embedding") * VectorOps.l2Norm($"p"))).as("c"))
      .collect().head.getDouble(0)
    assert(math.abs(self - 1.0) < 1e-9)
    val range = e.crossJoin(probe)
      .select((VectorOps.dot($"embedding", $"p") /
        (VectorOps.l2Norm($"embedding") * VectorOps.l2Norm($"p"))).as("c"))
      .agg(min($"c"), max($"c")).collect().head
    assert(range.getDouble(0) >= -1.0 - 1e-9 && range.getDouble(1) <= 1.0 + 1e-9)
  }

  test("sim_topk returns 10 rows excluding the probe, sorted by vec_id") {
    val rows = VectorOps.simTopkCosine(spark, sf).collect()
    assert(rows.length == 10)
    val ids = rows.map(_.getAs[Long]("vec_id")).toSeq
    assert(!ids.contains(0L))
    assert(ids == ids.sorted)
  }

  test("tokenize counts: top token count equals a direct computation") {
    val s = spark
    import s.implicits._
    val top = TextOps.tokenizeCounts(spark, sf).collect()
    assert(top.length == 20)
    val direct = Tables.documents(spark, sf)
      .select(explode(split($"text", " ")).as("t"))
      .groupBy($"t").count().orderBy($"count".desc, $"t").limit(1)
      .collect().head
    assert(top.head.getAs[String]("token") == direct.getAs[String]("t"))
    assert(top.head.getAs[Long]("n") == direct.getAs[Long]("count"))
    // descending with token tie-break
    val ns = top.map(_.getAs[Long]("n")).toSeq
    assert(ns == ns.sorted.reverse)
  }

  test("lang stats cover all docs") {
    val df = TextOps.langStats(spark, sf)
    val total = df.agg(sum("n_docs")).collect().head.getLong(0)
    assert(total == Tables.documents(spark, sf).count())
  }

  test("shuffle shard covers all docs with contiguous per-shard positions") {
    val s = spark
    import s.implicits._
    val rows = TextOps.shuffleShard(spark, sf).collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    assert(rows.map(_.getAs[Long]("doc_id")).distinct.length == rows.length)
    rows.groupBy(_.getAs[String]("shard")).foreach { case (_, g) =>
      val ps = g.map(_.getAs[Long]("pos_in_shard")).sorted
      assert(ps.head == 1L && ps.last == ps.length,
        "per-shard positions must be 1..n contiguous")
    }
    // content-keyed determinism: a second independent run is identical
    val again = TextOps.shuffleShard(spark, sf).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("repetition ratio matches a driver-side recount per doc") {
    val s = spark
    import s.implicits._
    val got = TextOps.repetitionRatio(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text").collect()
    assert(got.size == docs.length)
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    docs.foreach { d =>
      val toks = d.getString(1).split(" ", -1).toSeq
      val r = got(d.getLong(0))
      assert(r.getAs[Long]("n_tokens") == toks.size)
      val expTok = r4(toks.groupBy(identity).values.map(_.size).max.toDouble / toks.size)
      assert(r.getAs[Double]("top_tok_frac") == expTok)
      if (toks.size < 2) {
        assert(r.isNullAt(r.fieldIndex("top_bigram_frac")))
        assert(r.getAs[Int]("is_repetitive") == 0)
      } else {
        val bgs = toks.sliding(2).map(_.mkString(" ")).toSeq
        val expBg = r4(bgs.groupBy(identity).values.map(_.size).max.toDouble / bgs.size)
        assert(r.getAs[Double]("top_bigram_frac") == expBg)
        assert(r.getAs[Int]("is_repetitive") == (if (expBg > 0.18) 1 else 0))
      }
    }
  }

  test("text_filter_funnel: stages chain (n_in = prior n_kept) and conserve counts") {
    val s = spark
    import s.implicits._
    val rows = TextOps.filterFunnel(spark, sf).collect()
    assert(rows.length == 4)
    assert(rows.head.getAs[Long]("n_in") == Tables.documents(spark, sf).count())
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("n_in") == a.getAs[Long]("n_kept"), "funnel must chain")
    }
    rows.foreach { r =>
      assert(r.getAs[Long]("n_in") - r.getAs[Long]("n_kept") == r.getAs[Long]("n_dropped"))
      assert(r.getAs[Long]("n_kept") >= 0 && r.getAs[Long]("n_kept") <= r.getAs[Long]("n_in"))
    }
  }

  test("sample_domain_budget: keep-rate honored per source, driver recount agrees") {
    val s = spark
    import s.implicits._
    val got = TextOps.domainBudget(spark, sf).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val docs = Tables.documents(spark, sf)
      .select($"source", $"doc_id", $"text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(got.keySet == docs.map(_._1).toSet)
    val bySrc = docs.groupBy(_._1)
    def nTok(t: String): Long = t.count(_ == ' ').toLong + 1L
    def hv(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      "%02x".format(d(0)).charAt(0) match {
        case c if c.isDigit => c - '0'
        case c => c - 'a' + 10
      }
    }
    val totalToks = docs.map(d => nTok(d._3)).sum
    val share = (totalToks / 2) / bySrc.size
    bySrc.foreach { case (src, ds) =>
      val r = got(src)
      val srcToks = ds.map(d => nTok(d._3)).sum
      val k = math.min(16L, share * 16 / srcToks)
      assert(r.getAs[Long]("n_docs") == ds.length)
      assert(r.getAs[Long]("n_tokens") == srcToks)
      assert(r.getAs[Long]("keep_16") == k)
      val kept = ds.filter(d => hv(d._2) < k)
      assert(r.getAs[Long]("n_docs_kept") == kept.length)
      assert(r.getAs[Long]("n_tokens_kept") == kept.map(d => nTok(d._3)).sum)
    }
  }

  // ── dedup_containment ──────────────────────────────────────────────

  /** Planted containment fixture at the base-4 length-bucket edges: each
    * group's container sits EXACTLY at a 4^k bucket boundary with
    * containment exactly at τ = 0.8 — where a float-rounded ⌊log₄ n⌋ or
    * an off-by-one in the bucket replication range would delete output.
    * Disjoint vocab per group, so the only shingle overlaps are the
    * planted prefixes; ShingleSize = 3 ⇒ a w-word doc has w − 2
    * shingles. */
  private def withEdgeFixture[T](body: String => T): T = {
    val s = spark
    import s.implicits._
    def words(group: String, w: Int): String =
      (0 until w).map(i => s"${group}tok$i").mkString(" ")
    val docs = Seq(
      // g1: container at n=16 (exactly 4²), contained at n=20 with
      // ceil(0.8·20) = 16 ⇒ containment 16/20 = τ
      (1L, words("g1", 22)), (2L, words("g1", 18)),
      // g2: same shape one bucket up — 64 = 4³ of 80
      (3L, words("g2", 82)), (4L, words("g2", 66)),
      // g3: container one shingle SHORT of the gate (15 < 16): (5,6)
      // must not pair; (6,5) is full containment 15/15
      (5L, words("g3", 22)), (6L, words("g3", 17)))
    val dir = StageDirs.fresh("containment-edge")
    try {
      docs.toDF("doc_id", "text")
        .select($"doc_id", $"text", lit("en").as("lang"),
          lit("planted").as("source"), length($"text").cast("long").as("n_chars"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      body(dir.toString)
    } finally StageDirs.rm(dir)
  }

  private def containmentRows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** All-pairs reference with no candidate pruning: every ordered pair
    * of distinct docs, exact intersection count, the query's 4-decimal
    * rounding and threshold. */
  private def bruteForceContainment(dir: String, threshold: Double = 0.8) = {
    val s = spark
    import s.implicits._
    val sets = Tables.documents(spark, dir)
      .select($"doc_id", graft.functions.ShingleFunctions
        .word_shingle_hashes($"text", MinHash.ShingleSize, sorted = true).as("toks"))
    val a = sets.select($"doc_id".as("doc_a"), $"toks".as("ta"))
    val b = sets.select($"doc_id".as("doc_b"), $"toks".as("tb"))
    a.crossJoin(b)
      .filter($"doc_a" =!= $"doc_b")
      .select($"doc_a", $"doc_b",
        round(graft.functions.ArrayFunctions.sorted_intersect_count($"ta", $"tb")
          .cast("double") / size($"ta"), 4).as("containment"))
      .filter($"containment" >= threshold)
  }

  test("dedup_containment: 4^k bucket-boundary pairs at exactly τ survive the bucketed join") {
    withEdgeFixture { dir =>
      val got = containmentRows(TextOps.dedupContainment(spark, dir))
      val expected = Set(
        (1L, 2L, 0.8), (2L, 1L, 1.0),
        (3L, 4L, 0.8), (4L, 3L, 1.0),
        (6L, 5L, 1.0))
      assert(got == expected, s"output diverged from the hand-computed truth: $got")
    }
  }

  test("dedup_containment equals a brute-force all-pairs reference (fixture and 4^k edges)") {
    val onFixture = containmentRows(TextOps.dedupContainment(spark, sf))
    assert(onFixture.nonEmpty, "the fixture must plant containment pairs")
    assert(onFixture == containmentRows(bruteForceContainment(sf)),
      "pruned plan diverged from the all-pairs reference on the fixture")
    withEdgeFixture { dir =>
      assert(containmentRows(TextOps.dedupContainment(spark, dir)) ==
        containmentRows(bruteForceContainment(dir)),
        "pruned plan diverged from the all-pairs reference at the bucket edges")
    }
  }
}
