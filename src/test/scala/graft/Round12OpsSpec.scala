package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.Changelog
import graft.rel.{FuncSurface, Modern}

/** Round-12 additions: the tolerance-bounded as-of join, the masking
  * string family, and the timezone projection — semantics pinned on
  * planted fixtures plus independent in-Scala recomputation, alongside
  * their three-scale DuckDB oracles. */
class Round12OpsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkFixture.spark
  private val sf = SparkFixture.Sf
  private val TmpRoot = StageDirs.target("r12-tmp")

  // planted fixtures are read-and-collected inside each test; drop the
  // whole root when the suite ends (same accumulation leak the r15
  // advisor flagged on r15-tmp)
  override def afterAll(): Unit =
    StageDirs.rm(TmpRoot)

  test("asof tolerance: planted boundary fixture (≤24h in, >24h out, no-click null)") {
    val s = spark
    import s.implicits._
    val h = 3600L * 1000000 // 1 h in µs
    // (event_id, user_id, event_type, ts_us):
    //  user 1: click then purchase 1 h later  -> attributed
    //  user 2: click then purchase 25 h later -> in_window=0, NULL attr
    //  user 3: purchase BEFORE its only click -> no prior click, NULLs
    //  user 4: purchase exactly 24 h after    -> boundary is inclusive
    //  user 5: two clicks; newest is the attribution source
    val rows = Seq(
      (1L, 1L, "click", 0L), (2L, 1L, "purchase", 1 * h),
      (3L, 2L, "click", 0L), (4L, 2L, "purchase", 25 * h),
      (5L, 3L, "purchase", 0L), (6L, 3L, "click", 1 * h),
      (7L, 4L, "click", 0L), (8L, 4L, "purchase", 24 * h),
      (9L, 5L, "click", 0L), (10L, 5L, "click", 2 * h),
      (11L, 5L, "purchase", 3 * h))
    val dir = Files.createTempDirectory(
      Files.createDirectories(TmpRoot), "asof")
    rows.toDF("event_id", "user_id", "event_type", "ts_us")
      .select($"event_id", $"user_id", $"event_type",
        timestamp_micros($"ts_us").as("ts"), lit(0L).as("value"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Changelog.asofTolerance(spark, dir.toString)
      .collect().map(r => (r.getLong(0), r.getInt(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Long]))).toSeq
    assert(got == Seq(
      (2L, 1, Some(1L), Some(1 * h)),
      (4L, 0, None, None),
      (5L, 0, None, None),
      (8L, 1, Some(7L), Some(24 * h)),
      (11L, 1, Some(10L), Some(1 * h))))
  }

  test("asof tolerance ≡ unbounded attribution gated at 24h on the real fixture") {
    val s = spark
    import s.implicits._
    val tolUs = 24L * 3600 * 1000000
    val unb = Changelog.asofAttribution(spark, sf)
      .select($"purchase_event_id", $"click_event_id".as("u_click"), $"gap_us")
    val tol = Changelog.asofTolerance(spark, sf)
    assert(tol.count() ==
      Tables.events(spark, sf).filter($"event_type" === "purchase").count())
    val joined = tol.join(unb, "purchase_event_id")
    // in-window rows carry exactly the unbounded attribution; the rest null
    assert(joined.filter(($"in_window" === 1) =!=
      ($"gap_us".isNotNull && $"gap_us" <= tolUs)).count() == 0)
    assert(joined.filter($"in_window" === 1 &&
      ($"attr_click_id" =!= $"u_click" || $"attr_gap_us" =!= $"gap_us")).count() == 0)
    assert(joined.filter($"in_window" === 0 &&
      ($"attr_click_id".isNotNull || $"attr_gap_us".isNotNull)).count() == 0)
  }

  test("string masking matches an independent per-char recomputation") {
    val s = spark
    import s.implicits._
    def maskDefault(v: String): String = v.map {
      case c if c.isUpper => 'X'
      case c if c.isLower => 'x'
      case c if c.isDigit => 'n'
      case c => c
    }
    def maskPhone(v: String): String = v.map {
      case c if c.isUpper => 'A'
      case c if c.isLower => 'a'
      case c if c.isDigit => '0'
      case _ => '#'
    }
    val rows = FuncSurface.stringMaskFuncs(spark, sf).limit(50).collect()
    val names = Tables.customer(spark, sf)
      .select($"c_custkey", $"c_name", format_string("%02d-%03d-%04d",
        $"c_nationkey", $"c_custkey" % 1000, $"c_custkey" % 10000).as("phone"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (name, phone) = names(r.getLong(0))
      assert(r.getString(1) == maskDefault(name))
      assert(r.getString(2) == maskPhone(phone))
      assert(r.getString(3) == phone.substring(0, 3) + "***" + phone.substring(6, 11))
    }
  }

  test("timezone projection: fixed offsets, clock fields consistent with epochs") {
    val s = spark
    import s.implicits._
    val df = Modern.tsTimezoneFuncs(spark, sf)
    val istOff = (5 * 60 + 30) * 60L * 1000000 // +05:30 in µs
    val pstOff = -8 * 3600L * 1000000
    val base = Tables.events(spark, sf).filter($"event_id" % 37 === 0)
      .select($"event_id", unix_micros($"ts").as("us"))
    val j = df.join(base, "event_id")
    assert(j.count() > 0)
    // both zones are exact interval shifts of the instant clock
    assert(j.filter($"ist_us" =!= $"us" + istOff).count() == 0)
    assert(j.filter($"pst_us" =!= $"us" + pstOff).count() == 0)
    // local clock fields derive from the shifted epoch, day-exactly
    assert(j.filter($"ist_hour" =!=
      pmod(floor($"ist_us" / 3600000000L), lit(24)).cast("int")).count() == 0)
    assert(j.filter($"ist_date" =!=
      date_format(timestamp_micros($"ist_us"), "yyyy-MM-dd")).count() == 0)
  }

  // ---- second batch ----

  test("num_format: parse round-trips the key, grouped strings are well-formed") {
    val s = spark
    import s.implicits._
    val df = rel.FuncSurface.numFormatFuncs(spark, sf)
    assert(df.filter($"roundtrip" =!= $"p_partkey").count() == 0)
    // locale-grouped integers: 1-3 leading digits then comma-separated triples
    assert(df.filter(!$"grouped".rlike("^\\d{1,3}(,\\d{3})*$")).count() == 0)
    assert(df.filter(!$"pad7".rlike("^\\d{7}$")).count() == 0)
    // pad7 parses back to the key as an integer
    assert(df.filter($"pad7".cast("long") =!= $"p_partkey").count() == 0)
  }

  test("corr/covar: correlation bounds and the pop/samp covariance identity") {
    val s = spark
    import s.implicits._
    val df = rel.FuncSurface.aggCorrCovar(spark, sf)
    assert(df.count() > 0)
    assert(df.filter($"corr_xy" < -1.0 || $"corr_xy" > 1.0).count() == 0)
    // covar_pop = covar_samp * (n-1)/n within the r4 quantum
    assert(df.filter(
      abs($"covar_pop" - $"covar_samp" * ($"n" - 1) / $"n") > 0.001).count() == 0)
  }

  test("html strip: no markup or entity residue, content recovered exactly") {
    val s = spark
    import s.implicits._
    val base = Tables.documents(spark, sf)
    val got = llm.TextOps.htmlStrip(spark, sf)
    assert(got.count() == base.count())
    // recompute the expected clean text independently: the synthesized
    // wrapper reduces to "Doc <id> <text-with-&-for-the> (c) <source> <eof>"
    val want = base.select($"doc_id",
      md5(concat(lit("Doc "), $"doc_id".cast("string"), lit(" "),
        trim(regexp_replace(regexp_replace($"text", " the ", " & "), " +", " ")),
        lit(" (c) "), $"source", lit(" <eof>"))).as("want_md5"))
    assert(got.join(want, "doc_id").filter($"clean_md5" =!= $"want_md5").count() == 0)
  }

  test("readability: count consistency and band thresholds on the quantized score") {
    val s = spark
    import s.implicits._
    val df = llm.TextOps.readability(spark, sf)
    assert(df.filter($"n_sentences" < 1 || $"n_words" < 1).count() == 0)
    // band is a pure function of the emitted (already-quantized) score
    assert(df.filter(
      when($"flesch" >= 80.0, lit("easy")).when($"flesch" >= 55.0, lit("medium"))
        .otherwise(lit("hard")) =!= $"band").count() == 0)
  }

  test("select-except: star-minus drops exactly the named columns, pruning intact") {
    val df = rel.SqlSurface.selectExcept(spark, sf)
    val cols = df.columns.toSet
    assert(!cols.contains("o_orderdate") && !cols.contains("o_orderpriority"))
    assert(cols == Set("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_year"))
    // column pruning: the scan must NOT read the dropped-but-unused column
    val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(!scan.contains("o_orderpriority"))
  }

  // ---- third batch ----

  test("skew/kurtosis: exact zero on a planted symmetric fixture, sign on a skewed one") {
    val s = spark
    import s.implicits._
    import java.nio.file.Files
    // symmetric {1,2,3} per flag -> skewness 0, excess kurtosis -1.5;
    // right-tailed {1,1,1,7} -> positive skewness
    val dir = Files.createTempDirectory(
      Files.createDirectories(TmpRoot), "skew")
    (Seq(("A", 1.0), ("A", 2.0), ("A", 3.0)) ++
      Seq(("B", 1.0), ("B", 1.0), ("B", 1.0), ("B", 7.0)))
      .toDF("l_returnflag", "l_quantity")
      .select($"l_returnflag", $"l_quantity",
        lit(0.0).as("l_extendedprice"), lit(0.0).as("l_discount"),
        lit(0.0).as("l_tax"), lit("x").as("l_linestatus"),
        lit(1L).as("l_orderkey"), lit(1L).as("l_partkey"),
        lit(1L).as("l_suppkey"), lit(1).as("l_linenumber"),
        lit(java.sql.Date.valueOf("1995-01-01")).as("l_shipdate"))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = rel.FuncSurface.aggSkewKurtosis(spark, dir.toString)
      .collect().map(r => r.getString(0) -> (r.getDouble(3), r.getDouble(4))).toMap
    assert(got("A") == ((0.0, -1.5)))
    assert(got("B")._1 > 1.0) // strongly right-skewed
  }

  test("calendar features: weekday/weekend flags consistent with epoch-day arithmetic") {
    val s = spark
    import s.implicits._
    val base = Tables.orders(spark, sf).select($"o_orderdate",
      expr("weekday(o_orderdate)").as("wd"),
      // 1970-01-01 was a Thursday = ISO weekday 3
      pmod(datediff($"o_orderdate", lit(java.sql.Date.valueOf("1970-01-01"))) + 3, lit(7))
        .as("wd_arith"))
    assert(base.filter($"wd" =!= $"wd_arith").count() == 0)
    val agg = rel.Modern.tsCalendarFeatures(spark, sf)
    assert(agg.filter($"min_wd" < 0 || $"max_wd" > 6).count() == 0)
    // weekend rows span only {5,6}, weekday rows only {0..4}
    assert(agg.filter($"is_weekend" === 1 && $"min_wd" < 5).count() == 0)
    assert(agg.filter($"is_weekend" === 0 && $"max_wd" > 4).count() == 0)
  }

  test("merge-schema read: evolved columns NULL exactly on the legacy half") {
    val s = spark
    import s.implicits._
    val df = rel.Formats.parquetMergeSchema(spark, sf)
    val base = Tables.orders(spark, sf)
    val odd = base.filter($"o_orderkey" % 2 === 1).count()
    val total = base.count()
    val got = df.agg(sum($"n_rows"), sum($"n_with_year")).first()
    assert(got.getLong(0) == total && got.getLong(1) == odd)
  }

  test("vocab novelty: doc 0 fully novel, novelty telescopes to the corpus vocab") {
    val s = spark
    import s.implicits._
    val df = llm.TextOps.vocabNovelty(spark, sf)
    assert(df.filter($"doc_id" === 0).select($"n_novel" === $"n_vocab")
      .first().getBoolean(0))
    // every word is novel exactly once: Σ n_novel = |corpus vocabulary|
    val totalNovel = df.agg(sum($"n_novel")).first().getLong(0)
    val vocab = Tables.documents(spark, sf)
      .select(explode(split($"text", " ")).as("t")).distinct().count()
    assert(totalNovel == vocab)
  }

  test("template hash: clusters are non-trivial and canonical is the min member") {
    val s = spark
    import s.implicits._
    val df = llm.TextOps.templateHash(spark, sf)
    assert(df.filter($"n_docs" <= 1).count() == 0)
    // recompute one cluster independently: every member shares the shape
    // of the canonical doc's first-10-token lengths
    val shape = array_join(transform(slice(split($"text", " "), 1, 10),
      t => length(t).cast("string")), " ")
    val shapes = Tables.documents(spark, sf).select($"doc_id", md5(shape).as("m"))
    val joined = df.join(shapes, df("template_md5") === shapes("m"))
    assert(joined.groupBy($"template_md5").agg(
        count(lit(1)).as("k"), min($"doc_id").as("mn"))
      .join(df, "template_md5")
      .filter($"k" =!= $"n_docs" || $"mn" =!= $"canonical_doc").count() == 0)
  }

  test("append-mode windowed stream ≡ batch twin under the finalized horizon") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    val streamed = cdc.StreamingLatest.streamWindowedAppend(spark, sf)
    val horizonUs = Tables.events(spark, sf)
      .agg(unix_micros(max($"ts"))).first().getLong(0) - 3600L * 1000000L
    val batch = Tables.events(spark, sf)
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast(DecimalType(18, 6))).as("sum_dec"))
      .filter(unix_micros($"w.end") < horizonUs)
      .select(unix_millis($"w.start").as("bucket_ms"), $"event_type",
        $"n_events", round($"sum_dec".cast("double"), 4).as("sum_value"))
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  // ---- fourth batch ----

  test("map collect: JSON parses back to exactly the per-user count map") {
    val s = spark
    import s.implicits._
    val df = rel.Modern.aggMapCollect(spark, sf)
    val parsed = df.select($"user_id", $"n_types",
      from_json($"type_counts_json", lit("map<string,bigint>")).as("m"))
      .select($"user_id", $"n_types", explode($"m").as(Seq("event_type", "cnt")))
    val want = Tables.events(spark, sf).groupBy($"user_id", $"event_type")
      .agg(count(lit(1)).as("w_cnt"))
    assert(parsed.join(want, Seq("user_id", "event_type"))
      .filter($"cnt" =!= $"w_cnt").count() == 0)
    assert(parsed.groupBy($"user_id", $"n_types").count()
      .filter($"n_types" =!= $"count").count() == 0)
  }

  test("rolling zscore: constant series yields null z, a planted spike flags") {
    val s = spark
    import s.implicits._
    import java.nio.file.Files
    val dir = Files.createTempDirectory(
      Files.createDirectories(TmpRoot), "zs")
    // user 1: constant 5.0 (variance 0 -> z null); user 2: flat 10.0
    // with one 100.0 spike (must flag)
    val rows = (1 to 8).map(i => (i.toLong, 1L, 5.0)) ++
      (11 to 18).map(i => (i.toLong, 2L, if (i == 18) 100.0 else 10.0))
    rows.toDF("event_id", "user_id", "value")
      .select($"event_id", timestamp_micros($"event_id" * 1000000L).as("ts"),
        $"user_id", lit("view").as("event_type"), $"value", lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = rel.Modern.windowRollingZscore(spark, dir.toString)
    assert(got.filter($"user_id" === 1 && $"z".isNotNull).count() == 0)
    val spike = got.filter($"event_id" === 18).first()
    assert(spike.getInt(4) == 1 && spike.getDouble(3) > 2.0)
    assert(got.filter($"user_id" === 2 && $"event_id" < 18 && $"z".isNotNull)
      .count() == 0) // flat prefix has zero variance too
  }

  test("rolling median: exact lower-median on a planted series") {
    val s = spark
    import s.implicits._
    import java.nio.file.Files
    val dir = Files.createTempDirectory(
      Files.createDirectories(TmpRoot), "med")
    val vals = Seq(5.0, 1.0, 3.0, 2.0, 4.0, 9.0)
    vals.zipWithIndex.map { case (v, i) => ((i + 1).toLong, v) }
      .toDF("event_id", "value")
      .select($"event_id", timestamp_micros($"event_id" * 1000000L).as("ts"),
        lit(1L).as("user_id"), lit("view").as("event_type"), $"value",
        lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = rel.Modern.windowRollingMedian(spark, dir.toString)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // frames: {5}=5, {5,1}=1, {5,1,3}=3, {5,1,3,2}=2, {5,1,3,2,4}=3,
    // {1,3,2,4,9}=3
    assert(got == Map(1L -> 5.0, 2L -> 1.0, 3L -> 3.0, 4L -> 2.0,
      5L -> 3.0, 6L -> 3.0))
  }

  test("degree distribution: handshake identity against the pair set") {
    val s = spark
    import s.implicits._
    val df = llm.GraphOps.degreeDistribution(spark, sf)
    val nPairs = llm.TextOps.ngramJaccardPairs(spark, sf).count()
    val sums = df.agg(
      sum($"degree" * $"n_nodes"), sum($"n_nodes")).first()
    assert(sums.getLong(0) == 2 * nPairs) // Σ deg = 2|E|
    val nNodes = llm.TextOps.ngramJaccardPairs(spark, sf)
      .select(explode(array($"doc_a", $"doc_b")).as("n")).distinct().count()
    assert(sums.getLong(1) == nNodes)
  }

  test("entropy/gini: closed forms on planted uniform and single-class cohorts") {
    val s = spark
    import s.implicits._
    import java.nio.file.Files
    val dir = Files.createTempDirectory(
      Files.createDirectories(TmpRoot), "ent")
    // cohort 1 (user 1): 4 types x 25 events -> uniform over 4;
    // cohort 2 (user 2): single type -> entropy 0, gini 0
    val rows = (1 to 100).map(i => (i.toLong, 1L, s"t${i % 4}")) ++
      (101 to 150).map(i => (i.toLong, 2L, "only"))
    rows.toDF("event_id", "user_id", "event_type")
      .select($"event_id", timestamp_micros($"event_id" * 1000000L).as("ts"),
        $"user_id", $"event_type", lit(1.0).as("value"), lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = rel.FuncSurface.aggEntropyGini(spark, dir.toString)
      .collect().map(r => r.getLong(0) -> (r.getDouble(3), r.getDouble(4))).toMap
    val h4 = math.floor(-(0.25 * math.log(0.25)) * 1e6 + 0.5) * 4 / 1e6
    assert(got(1L) == ((h4, 1.0 - 4 * 0.0625)))
    assert(got(2L) == ((0.0, 0.0)))
  }

  // ---- fifth batch ----

  test("named window: the shared spec compiles to exactly ONE Window operator") {
    val df = rel.SqlSurface.namedWindow(spark, sf)
    val nWindowOps = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.size
    assert(nWindowOps == 1) // three functions, one sort — the clause's point
    assert(df.columns.toSeq ==
      Seq("o_custkey", "o_orderkey", "rn", "prev_price", "running_total"))
  }

  test("lateral view explode ≡ the DataFrame explode aggregate") {
    val s = spark
    import s.implicits._
    val sql = rel.SqlSurface.lateralViewExplode(spark, sf)
    val api = Tables.documents(spark, sf)
      .select(explode(split($"text", " ")).as("tok"))
      .groupBy(length($"tok").as("tok_len"))
      .agg(count(lit(1)).as("n_tokens"), countDistinct($"tok").as("n_distinct"))
    assert(sql.exceptAll(api).count() == 0 && api.exceptAll(sql).count() == 0)
  }

  test("pmi: planted single-token corpus scores exactly zero") {
    val s = spark
    import s.implicits._
    import java.nio.file.Files
    val dir = Files.createTempDirectory(
      Files.createDirectories(TmpRoot), "pmi")
    Seq((0L, "x x x x", "en", "src0", 7L)).toDF(
        "doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // all 5 pairs are (x,x): c_xy=c_x=c_y=N=5 -> PMI = ln(1) = 0
    val got = llm.TextOps.pmiCooccur(spark, dir.toString, minPairCount = 1)
      .collect()
    assert(got.length == 1)
    assert(got(0).getString(0) == "x" && got(0).getString(1) == "x"
      && got(0).getLong(2) == 5 && got(0).getDouble(3) == 0.0)
  }

  test("compression ratio: independent recompute, repetition compresses below prose") {
    val s = spark
    import s.implicits._
    val df = llm.TextOps.compressionRatio(spark, sf)
    val sample = df.join(Tables.documents(spark, sf), "doc_id")
      .select($"doc_id", $"text", $"deflate_len", $"ratio").limit(50).collect()
    sample.foreach { r =>
      assert(r.getInt(2) == graft.functions.DeflateLen.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(1)), 6))
    }
    // planted fixed point: a constant string compresses to a sliver
    val const = graft.functions.DeflateLen.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString("a" * 1000), 6)
    assert(const < 50)
    // determinism: two evaluations of the declared plan are identical
    val again = llm.TextOps.compressionRatio(spark, sf)
    assert(df.exceptAll(again).count() == 0)
  }

  test("csv quarantine: population counts match the synthesized corruption closed form") {
    val s = spark
    import s.implicits._
    val df = rel.Formats.csvMalformedPermissive(spark, sf)
    val base = Tables.orders(spark, sf)
      .select($"o_orderkey" % 7 === 0 as "t", $"o_orderkey" % 13 === 0 as "b")
    val sums = df.agg(sum($"n_rows"), sum($"n_quarantined"), sum($"n_key_parsed"))
      .first()
    assert(sums.getLong(0) == base.count())
    assert(sums.getLong(1) == base.filter($"t" || $"b").count())
    assert(sums.getLong(2) == base.filter(!$"b").count())
  }

  test("stream union ≡ batch union twin, row for row") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    val streamed = cdc.StreamingLatest.streamUnion(spark, sf)
    val batch = Tables.events(spark, sf)
      .filter($"event_type" === "purchase")
      .select($"ts", $"event_type", $"value")
      .unionByName(Tables.events(spark, sf).filter($"event_type" === "click")
        .select($"ts", $"event_type", lit(0.0).as("value")))
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast(DecimalType(18, 6))).as("sum_dec"))
      .select(unix_millis($"w.start").as("bucket_ms"), $"event_type",
        $"n_events", round($"sum_dec".cast("double"), 4).as("sum_value"))
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("drawdown: invariants — non-positive, peak non-decreasing, flag ⇔ zero") {
    val s = spark
    import s.implicits._
    val df = rel.Modern.windowDrawdown(spark, sf)
    assert(df.filter($"drawdown" > 0).count() == 0)
    assert(df.filter($"is_new_peak" === 1 && $"drawdown" =!= 0.0).count() == 0)
    assert(df.filter($"is_new_peak" === 0 && $"drawdown" >= 0.0).count() == 0)
    // running peak never decreases along each user's (ts, event_id) order
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"event_id")
    val dec = df.withColumn("prev", lag($"running_peak", 1).over(w))
      .filter($"prev".isNotNull && $"running_peak" < $"prev")
    assert(dec.count() == 0)
    // every user's first event is its own peak
    val firsts = df.withColumn(
        "rk", row_number().over(w)).filter($"rk" === 1)
    assert(firsts.filter($"is_new_peak" =!= 1).count() == 0)
  }

  test("partition-only agg: the scan reads ZERO data columns") {
    val s = spark
    import s.implicits._
    val df = rel.Formats.layoutPartitionOnlyAgg(spark, sf)
    def findScan(p: org.apache.spark.sql.execution.SparkPlan)
        : Option[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        findScan(a.executedPlan)
      case st: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        findScan(st.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Some(f)
      case other => other.children.view.flatMap(findScan(_)).headOption
    }
    val scan = findScan(df.queryExecution.executedPlan).get
    assert(scan.requiredSchema.isEmpty,
      s"expected empty ReadSchema, got ${scan.requiredSchema.catalogString}")
    // and the metadata-priced answer still matches the data-priced one
    val full = Tables.orders(spark, sf)
      .groupBy(year($"o_orderdate").as("o_year"))
      .agg(count(lit(1)).as("n_orders"))
    assert(df.exceptAll(full).count() == 0 && full.exceptAll(df).count() == 0)
  }

  test("FILTER clause ≡ conditional-aggregation API twin") {
    val s = spark
    import s.implicits._
    val sql = rel.SqlSurface.filterClause(spark, sf)
    val api = Tables.orders(spark, sf)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_all"),
        count(when($"o_totalprice" > 200000, 1)).as("n_big"),
        round(sum(when($"o_orderstatus" === "F",
          $"o_totalprice".cast("decimal(18,4)"))).cast("double"), 4)
          .as("sum_f_price"))
      .orderBy($"o_orderpriority")
    assert(sql.exceptAll(api).count() == 0 && api.exceptAll(sql).count() == 0)
    // one grouped pass: a single HashAggregate pair, no extra scan
    val scans = sql.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, "FILTER clause must not add a per-condition scan")
  }

  test("vocab coverage: monotone to exactly 1.0 over the full vocabulary") {
    val s = spark
    import s.implicits._
    val df = llm.TextOps.vocabCoverage(spark, sf).collect()
    assert(df.nonEmpty)
    assert(df.last.getDouble(3) == 1.0)
    val cov = df.map(_.getDouble(3))
    assert(cov.zip(cov.tail).forall { case (a, b) => a <= b },
      "coverage curve must be non-decreasing")
    // rank column is 1..n dense
    assert(df.map(_.getInt(0)).toSeq == (1 to df.length))
    // counts are rank-ordered desc
    val cnts = df.map(_.getLong(2))
    assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b })
  }
}
