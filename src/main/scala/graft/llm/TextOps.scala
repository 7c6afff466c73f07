package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Materialize, Tables}

/** Text-pipeline operators over `documents` (SURVEY.md §2.2 Group C +
  * the LLM-training-data extension surface).
  *
  * Scale notes: exact dedup is one hash-shuffle on the text key (at
  * 100 TB you'd group on a 128-bit text hash instead of the raw string —
  * `dedup_exact_hash` below does exactly that); tokenize/explode is a
  * flat-map that never materializes per-doc state; all stats are
  * partial+final aggregates.
  */
object TextOps {

  /** `dedup_exact`: canonical doc per distinct text (min doc_id) + dup
    * count. Deterministic version of dropDuplicates("text"). */
  def dedupExact(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .groupBy($"text")
      .agg(min($"doc_id").as("doc_id"), count(lit(1)).as("n_dups"))
      .select($"doc_id", $"n_dups")
      .orderBy($"doc_id")
  }

  /** Scale-path exact dedup: group on a 256-bit content hash rather than
    * shuffling full document bodies (what you'd run at 100 TB). Same
    * result as `dedup_exact` absent sha2 collisions. */
  def dedupExactHash(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .groupBy(sha2($"text", 256).as("text_hash"))
      .agg(min($"doc_id").as("doc_id"), count(lit(1)).as("n_dups"))
      .select($"doc_id", $"n_dups")
      .orderBy($"doc_id")
  }

  /** `text_tokenize_counts`: whitespace tokenize -> explode -> global
    * top-20 tokens (count desc, token asc). */
  def tokenizeCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(explode(split($"text", " ")).as("token"))
      .groupBy($"token")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"token")
      .limit(20)
  }

  /** `text_bpe_pair_counts`: corpus-weighted adjacent symbol-pair
    * frequencies — the statistic a BPE tokenizer-training run computes
    * for every merge step — done the way a 100 TB run must: collapse the
    * corpus to its DISTINCT word vocabulary first (one map-side-combined
    * count shuffle; Zipf keeps the vocab sub-linear in corpus size),
    * then explode each VOCAB word's adjacent character pairs weighted by
    * its corpus count. The expensive generate runs over the vocabulary,
    * not the corpus — the classic BPE-training trick (word-count
    * dictionary, not token stream). Output: top-20 pairs by weighted
    * count (pair tie-break), with the number of vocab pair occurrences. */
  def bpePairCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val words = Tables.documents(spark, sfDir)
      .select(explode(split($"text", " ")).as("word"))
      .filter(length($"word") >= 2)
      .groupBy($"word").agg(count(lit(1)).as("wc"))
    words
      .select($"wc", explode(transform(sequence(lit(1), length($"word") - 1),
        i => $"word".substr(i, lit(2)))).as("pair"))
      .groupBy($"pair")
      .agg(sum($"wc").as("n_pairs"), count(lit(1)).as("n_vocab"))
      .orderBy($"n_pairs".desc, $"pair")
      .limit(20)
      .orderBy($"pair")
  }

  /** `text_bpe_merges`: the iterated BPE merge loop — three unrolled
    * rounds of (count weighted adjacent symbol pairs over the vocab →
    * take the top pair → apply the merge → recount), emitting the merge
    * table a tokenizer-training run would persist. Same unrolling
    * pattern as `vec_pca_power`; same vocab-not-corpus trick as
    * [[bpePairCounts]] (the merge loop runs over the DISTINCT word
    * vocabulary with corpus weights — Zipf keeps it sub-linear in
    * corpus size, and each round is one vocab-keyed pair shuffle plus a
    * broadcast of the 1-ROW winning pair, never a driver round-trip).
    *
    * Merge application: vocab words are space-delimited symbol strings
    * (` h e l l o `); applying merge (a,b) is two non-overlapping
    * `replace(' a b ', ' ab ')` passes — two because back-to-back
    * occurrences share the delimiter space, so pass 1 takes the odd
    * ones and pass 2 the survivors (no third generation can appear:
    * merging never creates a new (a,b) adjacency). For a ≠ b this is
    * EXACTLY greedy left-to-right BPE; self-pairs (a,a) are excluded
    * from selection because their greedy application on runs ≥ 4 is
    * overlap-parity-dependent — not expressible as engine-portable
    * non-overlapping replacement (canonical trainers special-case
    * them); the exclusion is explicit on both engines, not a fixture
    * accident. Determinism: ties broken (count DESC, a, b). */
  def bpeMerges(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // vocabulary as " h e l l o "-style symbol strings + corpus counts;
    // checkpointed: every unrolled round re-reads this frame, and the
    // corpus scan should run once, not once per round
    val vocab0 = Tables.documents(spark, sfDir)
      .select(explode(split($"text", " ")).as("word"))
      .filter(length($"word") >= 2)
      .groupBy($"word").agg(count(lit(1)).as("wc"))
      .select(concat(lit(" "), regexp_replace($"word", "(.)", "$1 ")).as("s"), $"wc")
      .transform(Materialize.reuse)
    def pairCounts(w: DataFrame): DataFrame =
      w.select($"wc", split(trim($"s"), " ").as("t"))
        .filter(size($"t") >= 2)
        .select($"wc", explode(expr(
          "transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS a, t[i] AS b))")).as("p"))
        .groupBy($"p.a".as("a"), $"p.b".as("b"))
        .agg(sum($"wc").as("n"))
    def topPair(pc: DataFrame): DataFrame =
      pc.filter($"a" =!= $"b").orderBy($"n".desc, $"a", $"b").limit(1)
    def applyMerge(w: DataFrame, top: DataFrame): DataFrame = {
      val pat = concat(lit(" "), $"a", lit(" "), $"b", lit(" "))
      val rep = concat(lit(" "), $"a", $"b", lit(" "))
      // constant-key equi-join, not a crossJoin: same 1-row broadcast,
      // but it plans a BroadcastHashJoin (codegen) instead of a
      // nested-loop shape the plan lint would rightly flag
      w.withColumn("k", lit(1))
        .join(broadcast(top.select(lit(1).as("k"), $"a", $"b")), "k")
        .select(replace(replace($"s", pat, rep), pat, rep).as("s"), $"wc")
        .transform(Materialize.reuse)
    }
    val t1 = Materialize.reuse(topPair(pairCounts(vocab0)))
    val v1 = applyMerge(vocab0, t1)
    val t2 = Materialize.reuse(topPair(pairCounts(v1)))
    val v2 = applyMerge(v1, t2)
    val t3 = topPair(pairCounts(v2))
    def row(r: Int, t: DataFrame) = t.select(lit(r).as("merge_rank"),
      $"a".as("sym_a"), $"b".as("sym_b"), $"n".as("n_pairs"))
    row(1, t1).unionAll(row(2, t2)).unionAll(row(3, t3))
      .orderBy($"merge_rank")
  }

  /** `dedup_ngram_jaccard`: exact near-dup pairs by Jaccard over word
    * 3-shingle sets — the AllPairs/PPJoin prefix-filter algorithm
    * (Bayardo/Ma/Srikant WWW'07, Xiao et al.), which is what survives
    * 100 TB:
    *
    *  1. canonicalize each doc's shingle-hash set in ascending global
    *     document frequency (rarest first — frequent shingles, the n²
    *     troublemakers, fall out of every prefix);
    *  2. two docs with Jaccard >= τ must share a shingle within each
    *     one's first `n - ceil(τ·n) + 1` canonical positions (the
    *     smallest common element lands in both prefixes), so the
    *     candidate join is an equi-join on *prefix* shingles only —
    *     plus the |A| >= τ·|B| size filter;
    *  3. candidates are verified exactly on full shingle sets.
    *
    * The naive inverted-index self-join this replaced produced 1.27M
    * candidate pairs at sf0.1 (nearly all noise: only hundreds survive
    * τ=0.5) because the synthetic corpus's small vocabulary makes every
    * frequent shingle a quadratic bucket. */
  def ngramJaccard(spark: SparkSession, sfDir: String, threshold: Double = 0.5): DataFrame = {
    import spark.implicits._
    // the declared query adds the total output order; consumers that
    // immediately repartition (dedupClusters' edge build) use the
    // sort-free core below so the optimizer never plans the useless
    // global range-sort exchange
    ngramJaccardPairs(spark, sfDir, threshold).orderBy($"doc_a", $"doc_b")
  }

  /** [[ngramJaccard]] without the final global sort — the verified,
    * deduplicated near-dup pair set in arbitrary order.
    *
    * Staged ONCE per (session, sfDir, τ) and shared by every consumer
    * (the pair query itself, dedup_cluster_canonical's edge build,
    * graph_pagerank): the shingle→prefix-join→verify pipeline is by far
    * the dominant shared stage, and a 100 TB pipeline would stage the
    * verified pair set to parquet before running its downstream graph
    * passes — same structure, same reason as [[graft.cdc.StreamingLatest
    * .stagedEventLog]]. The memo holds one lineage-cut frame per key
    * ([[Materialize.memo]]): one per scale dir and τ per session. A
    * stopped session's entry has its blocks freed eagerly, at the next
    * memo call, not when the ContextCleaner gets to it; an entry evicted
    * past the memo's cap is only dropped, since a live holder may still
    * read its blocks. */
  private[graft] def ngramJaccardPairs(spark: SparkSession, sfDir: String,
      threshold: Double = 0.5): DataFrame =
    Materialize.memo(spark, ("ngram_pairs", sfDir, threshold)) {
      Materialize.reuse(ngramJaccardPairsUncached(spark, sfDir, threshold))
    }

  private[graft] def ngramJaccardPairsUncached(spark: SparkSession, sfDir: String,
      threshold: Double = 0.5): DataFrame = {
    import spark.implicits._
    // canonical set order = ascending hash (sorted inside the shingle
    // expression); a global frequency ordering would tighten prefixes
    // further on Zipfian corpora, but this corpus's shingle frequencies
    // are flat (measured: df-ordering cut candidates only 1.27M -> 310k
    // while costing 3 extra shuffles; hash order + the positional filter
    // below does strictly better with none)
    // Materialize the tokenized corpus ONCE: the pair pipeline consumes
    // `sets` four times (both prefix-explode sides + both verify
    // broadcasts) and recomputing the shingle hashing per consumer is
    // the dominant redundant work. Materialize.reuse stores the computed
    // blocks (memory+disk) and cuts the lineage; blocks are reclaimed by
    // the ContextCleaner when the frame is GC'd. A 100 TB pipeline would
    // stage the tokenized corpus to parquet instead — same idea.
    val sets = Tables.documents(spark, sfDir)
      .select($"doc_id",
        graft.functions.ShingleFunctions
          .word_shingle_hashes($"text", MinHash.ShingleSize, sorted = true).as("toks"))
      .select($"doc_id", $"toks", size($"toks").as("n"))
      .transform(Materialize.reuse)
    val prefixLen = ($"n" - ceil($"n" * lit(threshold)) + 1).cast("int")
    val prefixes = sets
      .select($"doc_id", $"n", posexplode(slice($"toks", lit(1), prefixLen)))
      .toDF("doc_id", "n", "pos", "tok")
    val a = prefixes.select($"doc_id".as("doc_a"), $"n".as("na"), $"pos".as("pa"), $"tok")
    val b = prefixes.select($"doc_id".as("doc_b"), $"n".as("nb"), $"pos".as("pb"), $"tok")
    // required overlap for Jaccard >= τ: α = τ/(1+τ)·(na+nb); positional
    // filter: at the pair's first (smallest) common token, everything
    // before pa/pb is disjoint, so overlap <= 1 + min(na-pa, nb-pb) - 1
    val alpha = lit(threshold / (1.0 + threshold)) * ($"na" + $"nb") - lit(1e-9)
    val cand = a.join(b, Seq("tok"))
      .filter($"doc_a" < $"doc_b" &&
        $"na" >= $"nb" * threshold && $"nb" >= $"na" * threshold &&
        (least($"na" - $"pa", $"nb" - $"pb")) >= alpha)
      .select($"doc_a", $"doc_b")
    // exact verify: candidate multiplicity is ~1.05 so verifying before
    // deduping trades a wide 200k-row shuffle for a few percent repeated
    // O(|set|) merge scans; the doc-set sides ride PLAIN shuffled
    // equi-joins on doc_id — the corpus is corpus-proportional, so a
    // broadcast here is exactly the 100 TB killer the customer-side
    // hints were (a hint is honored regardless of size); at bench scale
    // AQE still picks BHJ on its own, and the intersection is the
    // codegen merge scan over the sorted hash arrays — no per-pair
    // allocation
    cand
      .join(sets.select($"doc_id".as("doc_a"), $"toks".as("ta"), $"n".as("na")), "doc_a")
      .join(sets.select($"doc_id".as("doc_b"), $"toks".as("tb"), $"n".as("nb")), "doc_b")
      .select($"doc_a", $"doc_b",
        graft.functions.ArrayFunctions.sorted_intersect_count($"ta", $"tb")
          .cast(DoubleType).as("inter"), $"na", $"nb")
      .select($"doc_a", $"doc_b",
        round($"inter" / ($"na" + $"nb" - $"inter"), 4).as("jaccard"))
      .filter($"jaccard" >= threshold)
      .dropDuplicates("doc_a", "doc_b")
  }

  /** `dedup_cluster_canonical`: near-duplicate CLUSTERS from the exact
    * pair graph — connected components via Pregel-style min-label
    * propagation (each round every node adopts the smallest label among
    * itself and its neighbours; fixpoint = component minimum). The
    * pair list alone under-deduplicates: A~B and B~C puts A and C in
    * the same cluster only through transitivity. Output: (doc_id,
    * cluster_id = min doc in component, is_canonical).
    *
    * Scale notes: edges are cached for the iterations (the standard
    * iterative-graph pattern — recomputing the near-dup join per round
    * would dwarf the propagation); rounds needed = component diameter,
    * and near-dup components are shallow by construction (docs similar
    * to a common doc are similar-ish to each other). The DuckDB oracle
    * recomputes the closure with a recursive CTE — the gate proves the
    * distributed fixpoint equals true transitive closure. */
  def dedupClusters(spark: SparkSession, sfDir: String, maxIter: Int = 20): DataFrame =
    connectedComponents(spark,
      ngramJaccardPairs(spark, sfDir).select(col("doc_a"), col("doc_b")), maxIter)

  /** The fixpoint core of [[dedupClusters]], on an arbitrary (doc_a,
    * doc_b) pair graph — exposed so the propagation logic is unit-
    * testable on planted graphs (chains, disjoint components). */
  private[graft] def connectedComponents(
      spark: SparkSession, pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    import spark.implicits._
    Materialize.withSymmetricEdges(spark, pairs.toDF("doc_a", "doc_b")) { (edges, _) =>
      var labels = edges.select($"src".as("doc_id"))
        .distinct()
        .select($"doc_id", $"doc_id".as("label"))
      try {
        // Convergence check without a per-round diff join: min-propagation
        // only ever DECREASES labels, so Σlabel is strictly monotone until
        // the fixpoint — equal consecutive sums ⟺ no label changed. The
        // 1-row sum action doubles as the cache materialization.
        var prevSum = Option.empty[Long]
        var converged = false
        var i = 0
        while (!converged && i < maxIter) {
          val prev = labels
          val prop = edges.join(prev, edges("dst") === prev("doc_id"))
            .select(edges("src").as("doc_id"), col("label"))
          labels = Materialize.cached(prev.union(prop)
            .groupBy($"doc_id").agg(min($"label").as("label")))
          val sumNow = try Option(labels.agg(sum($"label")).first().get(0))
              .map(_.asInstanceOf[Long]).getOrElse(0L)
            finally Materialize.release(prev)
          converged = prevSum.contains(sumNow)
          prevSum = Some(sumNow)
          i += 1
        }
        if (!converged)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"connectedComponents exited after maxIter=$maxIter without convergence; " +
              "labels may not be a fixpoint")
        // cut off the cached lineage so the last round's cache can be
        // dropped here instead of leaking for the session
        labels
          .select($"doc_id", $"label".as("cluster_id"),
            ($"doc_id" === $"label").cast(IntegerType).as("is_canonical"))
          .orderBy($"doc_id")
          .transform(Materialize.reuse)
      } finally Materialize.release(labels)
    }
  }

  private val StopwordSets: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "y", "que"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "de", "et", "est"))

  /** `text_lang_id`: n-gram/stopword-list language heuristic — per-token
    * hit counts against per-language stopword sets, argmax with an 'en'
    * tie-break default, then a (label, predicted) confusion summary.
    * (The synthetic corpus draws every language from one vocabulary, so
    * the interesting part is the operator shape, not the accuracy.) */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // per-language hit count == occurrences of a whitespace-delimited
    // stopword. regexp_count stays inside whole-stage codegen with a
    // per-task compiled pattern; the previous `filter(split(text),
    // isin)` HOF was interpreted per token AND re-split the text per
    // language — it was the bench's slowest query (13 s at sf0.1).
    // Pattern: token boundary = start-or-space before, space-or-end
    // after (lookahead, so back-to-back stopwords both count) — exactly
    // the tokens `split(text, " ")` yields.
    val hits = StopwordSets.map { case (lang, words) =>
      // \A/\z (not ^/$): $ would also match before a trailing newline,
      // which a split-token equality check never does
      regexp_count($"text",
        lit(words.mkString("(?:\\A| )(?:", "|", ")(?= |\\z)"))).as(s"hits_$lang")
    }
    val scored = Tables.documents(spark, sfDir)
      .select(($"doc_id" +: $"lang" +: hits): _*)
    val others = (l: String) => StopwordSets.map(_._1).filter(_ != l)
    val predicted = StopwordSets.map(_._1).filter(_ != "en")
      .foldLeft(lit("en")) { (acc, l) =>
        val beatsAll = others(l).map(o => col(s"hits_$l") > col(s"hits_$o")).reduce(_ && _)
        when(beatsAll, l).otherwise(acc)
      }
    scored.select($"doc_id", $"lang", predicted.as("predicted"))
      .groupBy($"lang", $"predicted")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy($"lang", $"predicted")
  }

  /** `text_quality_score`: per-document quality features — token count,
    * vocabulary diversity, mean token length, stopword ratio — combined
    * into a bounded score. Pure scalar expressions; identical arithmetic
    * in the DuckDB oracle. */
  def qualityScore(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = split($"text", " ")
    val en = StopwordSets.head._2
    val base = Tables.documents(spark, sfDir).select(
      $"doc_id",
      size(toks).cast(DoubleType).as("n_tokens"),
      size(array_distinct(toks)).cast(DoubleType).as("n_distinct"),
      length($"text").cast(DoubleType).as("n_chars"),
      size(filter(toks, t => t.isin(en: _*))).cast(DoubleType).as("n_stop"))
    // Explicit HALF_UP rounding via floor(x*1e4 + 0.5): docs with 2^k
    // tokens make ratio terms binary-EXACT on .xxxx5 boundaries, where
    // Spark's round (HALF_UP) and DuckDB's (half-even nearbyint) disagree.
    // floor over identical IEEE ops is deterministic in both engines.
    def r4(c: org.apache.spark.sql.Column) = floor(c * 10000.0 + 0.5) / 10000.0
    base.select(
      $"doc_id",
      $"n_tokens".cast("long").as("n_tokens"),
      r4($"n_distinct" / $"n_tokens").as("distinct_ratio"),
      r4(($"n_chars" - $"n_tokens" + 1.0) / $"n_tokens").as("avg_token_len"),
      r4($"n_stop" / $"n_tokens").as("stopword_ratio"),
      r4(
        lit(0.4) * ($"n_distinct" / $"n_tokens") +
        lit(0.3) * least($"n_tokens" / 100.0, lit(1.0)) +
        lit(0.3) * (lit(1.0) - $"n_stop" / $"n_tokens")).as("quality"))
      .orderBy($"doc_id")
  }

  /** `text_repetition_ratio`: Gopher/C4-style repetition quality filter —
    * per document, the fraction of tokens claimed by the single most
    * frequent token and the fraction of bigrams claimed by the most
    * frequent bigram, plus the resulting keep/drop flag (threshold on the
    * QUANTIZED bigram fraction so both engines compare the same value).
    * Shape: explode → per-(doc, gram) count → per-doc max, twice — the
    * shuffle carries (doc_id, gram, partial count), never document text,
    * and both aggregates map-side combine; a doc's grams all hash to one
    * reducer so the per-doc max never needs a second pass at 100 TB. */
  def repetitionRatio(spark: SparkSession, sfDir: String,
      threshold: Double = 0.18): DataFrame =
    repetitionRatioOnDocs(spark, Tables.documents(spark, sfDir), threshold)

  /** [[repetitionRatio]] over an arbitrary (doc_id, text) frame — the
    * testable core (property tests feed planted/generated corpora). */
  private[graft] def repetitionRatioOnDocs(spark: SparkSession, docs: DataFrame,
      threshold: Double = 0.18): DataFrame = {
    import spark.implicits._
    val toks = split($"text", " ")
    val base = docs
      .select($"doc_id", toks.as("toks"), size(toks).as("n"))
    val topTok = base.select($"doc_id", $"n", explode($"toks").as("tok"))
      .groupBy($"doc_id", $"n", $"tok").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id", $"n").agg(max($"c").as("mx_tok"))
    val topBigram = base.where($"n" >= 2)
      .select($"doc_id", explode(zip_with(
        slice($"toks", lit(1), $"n" - 1), slice($"toks", lit(2), $"n" - 1),
        (a, b) => concat(a, lit(" "), b))).as("bg"))
      .groupBy($"doc_id", $"bg").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(max($"c").as("mx_bg"))
    val bigramFrac = graft.Det.r4($"mx_bg".cast(DoubleType) / ($"n" - 1))
    topTok.join(topBigram, Seq("doc_id"), "left")
      .select($"doc_id", $"n".cast(LongType).as("n_tokens"),
        graft.Det.r4($"mx_tok".cast(DoubleType) / $"n").as("top_tok_frac"),
        bigramFrac.as("top_bigram_frac"),
        (coalesce(bigramFrac, lit(0.0)) > threshold)
          .cast(IntegerType).as("is_repetitive"))
      .orderBy($"doc_id")
  }

  /** `text_token_regex`: token counting two ways — whitespace split and a
    * BPE-ish regex over word/number/symbol classes — per document. */
  def tokenRegexCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(
        $"doc_id",
        size(split($"text", " ")).as("n_ws_tokens"),
        size(regexp_extract_all($"text", lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), lit(0)))
          .as("n_re_tokens"))
      .orderBy($"doc_id")
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken): rolling windows
    * of W consecutive shingle hashes, keep each window's minimum — a
    * position-robust document sketch. Declared as `text_fingerprint`
    * (stats per doc; no SQL oracle — xxhash64 is Spark-specific). */
  val FingerprintWindow = 4
  def fingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val hashes = MinHash.shingleHashesCol($"text")
    val minima = transform(
      sequence(lit(0), greatest(size(hashes) - FingerprintWindow, lit(0))),
      i => array_min(slice(hashes, i + 1, lit(FingerprintWindow))))
    Tables.documents(spark, sfDir)
      .select($"doc_id", array_distinct(minima).as("fps"))
      .select($"doc_id", size($"fps").as("n_fingerprints"), array_min($"fps").as("min_fp"))
      .orderBy($"doc_id")
  }

  /** `sample_split_assign`: reproducible train/valid/test assignment —
    * every training corpus needs a split that is deterministic (re-runs
    * and engines agree), stable under re-partitioning, and keyed by
    * content identity, never by row position or RNG state. The split is
    * the first hex digit of md5(doc_id): 0-b → train (12/16), c-d →
    * valid (2/16), e-f → test (2/16). Output: per-(lang, split) counts
    * — the stratification report. */
  def sampleSplitAssign(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val h = substring(md5($"doc_id".cast(StringType)), 1, 1)
    val split = when(h <= "b", "train").when(h <= "d", "valid").otherwise("test")
    Tables.documents(spark, sfDir)
      .select($"lang", split.as("split"))
      .groupBy($"lang", $"split")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy($"lang", $"split")
  }

  /** `text_filter_funnel`: the C4/Gopher-style quality-filter FUNNEL with
    * per-stage drop accounting — the report every pretraining data run
    * ships: how many documents each successive filter removed. Stages
    * (all integer-exact, so the cross-engine hash is trivial): minimum
    * length → language gate → stopword-ratio floor (real prose contains
    * function words) → vocabulary-diversity floor (Gopher's
    * unique-fraction filter). One scan computes all four survivor counts
    * as conjunctive conditional sums (a single partial-aggregate pass —
    * the funnel costs ONE job at 100 TB, not one per stage), then the
    * 1-row aggregate unpivots to stage rows driver-side via stack. */
  def filterFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = split($"text", " ")
    val en = StopwordSets.head._2
    val d = Tables.documents(spark, sfDir).select(
      $"n_chars", $"lang",
      size(toks).cast(LongType).as("nt"),
      size(filter(toks, t => t.isin(en: _*))).cast(LongType).as("ns"),
      size(array_distinct(toks)).cast(LongType).as("nd"))
    val p1 = $"n_chars" >= 100L
    val p2 = $"lang" === "en"
    val p3 = $"ns" * 20L >= $"nt"
    val p4 = $"nd" * 5L >= $"nt"
    d.agg(
        count(lit(1)).as("s0"),
        sum(when(p1, 1L).otherwise(0L)).as("s1"),
        sum(when(p1 && p2, 1L).otherwise(0L)).as("s2"),
        sum(when(p1 && p2 && p3, 1L).otherwise(0L)).as("s3"),
        sum(when(p1 && p2 && p3 && p4, 1L).otherwise(0L)).as("s4"))
      .select(expr(
        """stack(4,
          |  1, 'min_length',      s0, s1,
          |  2, 'lang_en',         s1, s2,
          |  3, 'stopword_floor',  s2, s3,
          |  4, 'diversity_floor', s3, s4) AS (stage_idx, stage, n_in, n_kept)""".stripMargin))
      .withColumn("n_dropped", $"n_in" - $"n_kept")
      .orderBy($"stage_idx")
  }

  /** `sample_domain_budget`: token-budget domain mixing — the data-mixture
    * step of a pretraining pipeline: given a global token budget (here
    * half the corpus) split equally across sources, each source gets a
    * deterministic keep-rate k/16 (floor, capped at 16/16), and documents
    * are kept by content hash (first md5 hex digit of doc_id < k) — so
    * the sample is reproducible, engine-independent, and stable under
    * repartitioning, like [[sampleSplitAssign]]. All arithmetic is
    * integer (token counts via separator counting, rates in sixteenths),
    * so the oracle matches bit-for-bit. Plan shape at scale: ONE scan →
    * partial agg on (source, hex-bucket) → all remaining math on the
    * domain-cardinality frame (≤ 16×#sources rows — the global window
    * there is over thousands of rows, not the corpus). */
  def domainBudget(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val nTokens = (length($"text") - length(replace($"text", lit(" "), lit(""))) + 1)
      .cast(LongType)
    val hv = (instr(lit("0123456789abcdef"),
      substring(md5($"doc_id".cast(StringType)), 1, 1)) - 1).cast(LongType)
    val g = Tables.documents(spark, sfDir)
      .select($"source", nTokens.as("toks"), hv.as("hv"))
      .groupBy($"source", $"hv")
      .agg(count(lit(1)).as("n_docs"), sum($"toks").as("n_toks"))
    // intentional global window: frame is the post-agg (source, hex)
    // grid, ≤ 16×#sources rows at any corpus size
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val wSrc = org.apache.spark.sql.expressions.Window.partitionBy($"source")
    g.withColumn("src_toks", sum($"n_toks").over(wSrc))
      .withColumn("src_docs", sum($"n_docs").over(wSrc))
      .withColumn("total_toks", sum($"n_toks").over(wAll))
      .withColumn("n_src", size(collect_set($"source").over(wAll)).cast(LongType))
      .withColumn("keep_16",
        least(lit(16L), expr("((total_toks div 2) div n_src * 16) div src_toks")))
      .groupBy($"source")
      .agg(
        first($"src_docs").as("n_docs"),
        first($"src_toks").as("n_tokens"),
        first($"keep_16").as("keep_16"),
        sum(when($"hv" < $"keep_16", $"n_docs").otherwise(0L)).as("n_docs_kept"),
        sum(when($"hv" < $"keep_16", $"n_toks").otherwise(0L)).as("n_tokens_kept"))
      .orderBy($"source")
  }

  /** `sample_shuffle_shard`: deterministic training-order shuffle — the
    * epoch-ordering step of a training pipeline: each doc gets a
    * content-keyed pseudo-random sort key (md5 of doc_id + seed), is
    * routed to a shard by the key's first hex digit, and receives its
    * position WITHIN the shard. Shard-then-order-within-shard is the
    * only shape that survives 100 TB — a single global position would
    * need a one-partition window; per-shard windows partition the sort
    * across executors exactly as sharded training files do. Same-key
    * determinism: md5 agrees across engines, ties (impossible in
    * practice) break on doc_id. */
  def shuffleShard(spark: SparkSession, sfDir: String, seed: String = "42"): DataFrame =
    shuffleShardOnDocs(spark, Tables.documents(spark, sfDir), seed)

  /** [[shuffleShard]] over an arbitrary frame with a doc_id column — the
    * testable core (partition-invariance property tests). */
  private[graft] def shuffleShardOnDocs(spark: SparkSession, docs: DataFrame,
      seed: String = "42"): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val k = md5(concat($"doc_id".cast(StringType), lit(":" + seed)))
    docs
      .select($"doc_id", k.as("k"), substring(k, 1, 1).as("shard"))
      .withColumn("pos_in_shard",
        row_number().over(Window.partitionBy($"shard").orderBy($"k", $"doc_id"))
          .cast(LongType))
      .select($"doc_id", $"shard", $"pos_in_shard")
      .orderBy($"doc_id")
  }

  /** `explode_outer_tokens`: outer-generate semantics — each document's
    * long tokens (length >= 8) exploded, but documents with NONE keep a
    * null row instead of vanishing (the explode/explode_outer
    * distinction that silently drops rows in naive pipelines). Null
    * ordering is pinned explicitly: the engines' defaults differ. */
  def explodeOuterTokens(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val longToks = filter(split($"text", " "), t => length(t) >= 8)
    Tables.documents(spark, sfDir)
      .select($"doc_id", explode_outer(longToks).as("long_tok"))
      .orderBy($"doc_id", $"long_tok".asc_nulls_first)
  }

  /** `posexplode_outer_tokens`: the positional outer generator — like
    * [[explodeOuterTokens]] but each surviving token also carries its
    * 0-based position in the filtered array, and empty-array documents
    * keep one (null, null) row. Positions are what chunking/packing
    * downstream consumers key on, which is why the positional variant is
    * its own generator path. */
  def posexplodeOuterTokens(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val longToks = filter(split($"text", " "), t => length(t) >= 8)
    Tables.documents(spark, sfDir)
      .select($"doc_id", posexplode_outer(longToks).as(Seq("pos", "long_tok")))
      .orderBy($"doc_id", $"pos".asc_nulls_first)
  }

  /** `text_unigram_logprob`: perplexity-proxy quality scoring — each
    * document's mean negative log-probability under the corpus unigram
    * model (the classic cheap quality filter: gibberish scores high,
    * boilerplate scores low). Token counts are one aggregate; the
    * model join ships only (token, count); `ln` is quantized to 1e-6
    * BEFORE averaging because libm log may differ by 1 ulp across
    * engines — quantization buckets make that divergence vanish
    * (probability ~1e-9/row of straddling a bucket edge) and the
    * decimal-cast average is then exact and order-insensitive. */
  def unigramLogprob(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, sfDir)
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
    val freqs = toks.groupBy($"tok").agg(count(lit(1)).as("cnt"))
    // corpus size without an explode pass: sum of per-doc token counts.
    // Deliberately a driver-side .first() (the one-scalar model-build
    // action, same class as the iterative-convergence probes): the
    // total folds into the codegen'd nll expression as a LITERAL, which
    // whole-stage-codegen constant-folds — the 1-row-broadcast
    // alternative (the pmiCooccur shape) keeps the plan "pure" but adds
    // a build relation + join to every row for the same constant. One
    // extra job over a count-only projection is the entire cost, at any
    // corpus size.
    val total = Tables.documents(spark, sfDir)
      .select(size(split($"text", " ")).cast("long").as("n"))
      .agg(sum($"n")).first().getLong(0).toDouble
    // -ln p(tok) = ln(total) - ln(cnt), quantized to 1e-6
    val nll = floor((log(lit(total)) - log($"cnt")) * 1e6 + 0.5) / 1e6
    // broadcast(freqs) assumes a BOUNDED vocabulary: word vocabularies
    // plateau (Heaps' law — ~millions of (tok, cnt) longs at 100 TB,
    // comfortably broadcastable); a character-n-gram or URL "vocab"
    // would not, and should drop the hint to let AQE pick the join side
    toks.join(broadcast(freqs), "tok")
      .select($"doc_id", nll.cast(DecimalType(18, 10)).as("nllq"))
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        graft.Det.r4(sum($"nllq").cast(DoubleType) / count(lit(1))).as("avg_nll"))
      .orderBy($"doc_id")
  }

  /** `text_ngram_freq`: corpus-wide top-20 word bigrams — adjacent
    * tokens paired PER DOCUMENT with offset slices (`zip_with` over
    * toks[0..n-2] × toks[1..n-1]), exploded, then one partial-aggregated
    * count. The earlier shape (posexplode all tokens + a per-doc `lead`
    * window) shuffled and sorted the ENTIRE token stream before pairing
    * — the pairing is a per-row array operation, not a windowed one, so
    * the only exchange left is the map-side-combined bigram counts
    * (the shape that survives 100 TB: shuffle carries (bigram, partial
    * count), never raw tokens). */
  def ngramFreq(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = split($"text", " ")
    Tables.documents(spark, sfDir)
      .select(toks.as("toks"), (size(toks) - 1).as("m"))
      .where($"m" >= 1)
      .select(explode(zip_with(
        slice($"toks", lit(1), $"m"), slice($"toks", lit(2), $"m"),
        (a, b) => concat(a, lit(" "), b))).as("bigram"))
      .groupBy($"bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"bigram")
      .limit(20)
  }

  /** `text_clean_normalize`: the standard LLM-corpus cleaning pass —
    * lowercase, strip non-alphanumerics, collapse runs of whitespace,
    * trim — emitted as a content digest + length features rather than
    * the cleaned text itself (at 100 TB the digest IS the dedup key;
    * shuffling cleaned bodies around is the anti-pattern). Pure codegen
    * string expressions, no UDF. */
  def cleanNormalize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cleaned = trim(regexp_replace(regexp_replace(lower($"text"), "[^a-z0-9 ]", ""), " +", " "))
    Tables.documents(spark, sfDir)
      .select(
        $"doc_id",
        md5(cleaned).as("clean_md5"),
        length(cleaned).as("clean_len"),
        size(split(cleaned, " ")).as("n_clean_tokens"))
      .orderBy($"doc_id")
  }

  /** `text_sentence_split`: sentence segmentation — the boundary pass
    * that runs BEFORE context-window chunking in a real corpus pipeline
    * (chunk on sentence boundaries, not mid-sentence; see
    * `text_chunk_windows` for the window pass itself): split on
    * `[.!?]+\s+` runs (Java∩RE2 dialect), drop empties, report per-doc
    * sentence count, max/total sentence chars, and the md5 of the FIRST
    * sentence (pins content, not just shape). The fixture corpus ships
    * without punctuation, so sentence boundaries are synthesized
    * deterministically from the text itself (` the ` → `. `, the same
    * build-from-columns idiom as the PII/URL fixtures) — variable
    * per-doc sentence counts, exactly reproducible on both engines
    * (left-to-right non-overlapping replace on each). */
  def sentenceSplit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // The first-sentence md5 is derived POST-explode (max over the p==0
    // row) rather than via element_at on the pre-explode array: an
    // element_at + size>0 guard before the Generate gets the filter
    // lambda alias-inlined twice into the pushed-down Filter condition
    // (the PlanAuditSpec-banned blowup class). Non-outer posexplode
    // already drops docs whose filtered array is empty, so no guard is
    // needed — one lambda occurrence, one Generate, one aggregate.
    graft.Tables.documents(spark, sfDir)
      .select($"doc_id", regexp_replace($"text", " the ", ". ").as("t"))
      .select($"doc_id",
        posexplode(filter(split($"t", "[.!?]+\\s+"), s => length(s) > 0))
          .as(Seq("p", "s")))
      .groupBy($"doc_id")
      .agg(max(when($"p" === 0, md5($"s"))).as("first_sent_md5"),
        count(lit(1)).as("n_sentences"),
        max(length($"s")).as("max_sent_chars"),
        sum(length($"s")).cast(LongType).as("sum_sent_chars"))
      .orderBy($"doc_id")
  }

  /** `text_chunk_windows`: context-window chunking — each document cut
    * into fixed-size token windows with overlap (size 32, stride 24),
    * the shape every training-data tokenization pipeline feeds the
    * model. One generate-explode per doc; chunk identity is a digest so
    * the output (and shuffle) stays narrow — a downstream consumer
    * joins the digest back or re-slices, it never ships chunk text. */
  val ChunkSize = 32
  val ChunkStride = 24
  def chunkWindows(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = split($"text", " ")
    Tables.documents(spark, sfDir)
      .select($"doc_id", toks.as("toks"), size(toks).as("n"))
      .select($"doc_id", $"toks", $"n",
        explode(sequence(lit(0),
          (floor(($"n" - 1) / ChunkStride) + 1).cast("int") - 1)).as("chunk_idx"))
      .select($"doc_id", $"chunk_idx",
        ($"chunk_idx" * ChunkStride).as("chunk_start"),
        least(lit(ChunkSize), $"n" - $"chunk_idx" * ChunkStride).as("chunk_len"),
        md5(concat_ws(" ",
          slice($"toks", $"chunk_idx" * ChunkStride + 1, lit(ChunkSize)))).as("chunk_md5"))
      .orderBy($"doc_id", $"chunk_idx")
  }

  /** `text_lang_stats`: per-language doc count, avg chars, avg tokens.
    * Integer sums keep averages exact (no FP merge-order wobble). */
  /** `text_pack_sequences`: greedy context-window packing — the
    * training-data step that concatenates documents into fixed-size token
    * windows. Docs are packed per language shard in doc_id order: a doc's
    * bin is floor(cumulative-tokens-before-it / 2048), i.e. sequential
    * first-fit with document splitting allowed at bin boundaries. Per
    * bin: doc count, token sum, fill ratio. Scale notes: the running sum
    * partitions by the shard key (never a single global window), exactly
    * how a 100 TB corpus would pack — per shard, in a stable order.
    * Ref: the packing shape of training pipelines; the reference itself
    * has no analogue (extension per BASELINE.json:6). */
  def packSequences(spark: SparkSession, sfDir: String, binTokens: Int = 2048): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"lang").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang", size(split($"text", " ")).cast(LongType).as("n_tok"))
      .withColumn("cum_before", coalesce(sum($"n_tok").over(w), lit(0L)))
      .withColumn("bin", ($"cum_before" / binTokens).cast(LongType))
      .groupBy($"lang", $"bin")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("tok_sum"),
        graft.Det.r4(sum($"n_tok").cast(DoubleType) / binTokens.toDouble).as("fill_ratio"))
      .orderBy($"lang", $"bin")
  }

  /** `text_entropy`: per-document token Shannon entropy (nats) — the
    * vocabulary-diversity quality signal: H = ln n − (Σ c·ln c)/n over
    * per-doc token counts. `ln` is quantized to 1e-6 before the decimal
    * sum (same rule as unigramLogprob: libm ln differs by 1 ulp across
    * engines; quantization buckets make the divergence vanish). One
    * explode + two grouped passes, all partitioned by doc. */
  def tokenEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    def qln(c: org.apache.spark.sql.Column) = floor(log(c) * 1e6 + 0.5) / 1e6
    Tables.documents(spark, sfDir)
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n"),
        sum(($"c".cast(DoubleType) * qln($"c")).cast(DecimalType(28, 10))).as("clnc"))
      .select($"doc_id", $"n".as("n_tokens"),
        graft.Det.r4(qln($"n") - $"clnc".cast(DoubleType) / $"n".cast(DoubleType))
          .as("entropy_nats"))
      .orderBy($"doc_id")
  }

  /** `text_vocab_ids`: vocabulary construction — the tokenizer-training
    * primitive: corpus token counts, ranked (count desc, token asc), the
    * top 100 assigned contiguous ids from 0. The ranking window runs
    * over the AGGREGATED counts (vocab cardinality, not corpus
    * cardinality), so the single-partition window is over a frame that
    * is small by construction at any corpus size. */
  def vocabIds(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(spark, sfDir)
      .select(explode(split($"text", " ")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("cnt"))
    counts
      .withColumn("vocab_id",
        // intentional global window: frame is the aggregated vocab
        // (Zipf-sub-linear in corpus size), never the token stream
        row_number().over(Window.orderBy($"cnt".desc, $"tok")) - 1)
      .filter($"vocab_id" < 100)
      .select($"vocab_id", $"tok", $"cnt")
      .orderBy($"vocab_id")
  }

  /** `text_vocab_coverage`: the tokenizer-budget curve — rank the
    * vocabulary by corpus frequency and report, at every rank k, the
    * fraction of ALL corpus token occurrences the top-k entries cover.
    * This is the question a vocab-size decision actually asks ("how big
    * must the vocabulary be to cover 99% of tokens?") and the cumulative
    * complement of `text_vocab_ids`. Both windows (rank + running sum)
    * run over the AGGREGATED counts — vocab cardinality, which Zipf
    * keeps sub-linear in corpus size — never the token stream, so the
    * single-partition window is over a frame that is small by
    * construction. Coverage is one BIGINT→DOUBLE cast and one IEEE
    * division on each side, quantized HALF_UP. */
  def vocabCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(spark, sfDir)
      .select(explode(split($"text", " ")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("cnt"))
    // intentional global windows: all three frames are the aggregated
    // vocab (Zipf-sub-linear in corpus size), never the token stream
    val ord = Window.orderBy($"cnt".desc, $"tok")
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy().rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    counts
      .withColumn("vocab_rank", row_number().over(ord))
      .withColumn("cum_cnt", sum($"cnt").over(cum))
      .withColumn("total_cnt", sum($"cnt").over(all))
      .select($"vocab_rank", $"tok", $"cnt",
        graft.Det.r4($"cum_cnt".cast("double") / $"total_cnt".cast("double"))
          .as("coverage"))
      .orderBy($"vocab_rank")
  }

  /** `sample_group_hash_topk`: deterministic per-group sampling — for
    * each language, the 3 documents with the smallest md5 content hash.
    * Hash-rank sampling is the distributed answer to "give me a uniform
    * sample per group that is reproducible across engines, runs and
    * partitionings": RNG samplers (df.sample, reservoir) are
    * engine-specific, while the content hash induces one global
    * pseudo-random order both Spark and the oracle agree on. One window
    * pass partitioned by the group key. */
  def sampleGroupHashTopk(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"lang").orderBy($"h", $"doc_id")
    Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang", md5($"text").as("h"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= k)
      .select($"lang", $"rk", $"doc_id", $"h")
      .orderBy($"lang", $"rk")
  }

  /** `text_edit_distance`: Levenshtein edit distance — per doc, the
    * distance between its first and last token plus the distance of the
    * first token to a fixed probe word. The classic DP is O(|a|·|b|) per
    * pair on short tokens: a pure projection, embarrassingly parallel
    * (the fuzzy-match primitive next to the set-based Jaccard family). */
  def textEditDistance(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = split($"text", " ")
    Tables.documents(spark, sfDir)
      .select($"doc_id",
        element_at(toks, 1).as("tok_first"),
        element_at(toks, -1).as("tok_last"))
      .select($"doc_id", $"tok_first", $"tok_last",
        levenshtein($"tok_first", $"tok_last").as("lev_fl"),
        levenshtein($"tok_first", lit("spark")).as("lev_probe"))
      .orderBy($"doc_id")
  }

  /** `text_regexp_funcs`: the regexp analytics trio — regexp_count
    * (non-overlapping match count), regexp_substr (first match, null→'-'),
    * regexp_instr (1-based position of first match, 0 if none). Patterns
    * are kept in the dialect intersection of Java regex and RE2 (plain
    * classes + literal alternation) so the oracle can recompute them;
    * the instr oracle uses strpos of the first extracted match, which is
    * exact for these patterns (any occurrence of the matched string is
    * itself a match). */
  def textRegexpFuncs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(
        $"doc_id",
        regexp_count($"text", lit("[a-z]{6,}")).as("n_long"),
        coalesce(regexp_substr($"text", lit("[a-z]{6,}")), lit("-")).as("first_long"),
        regexp_instr($"text", lit("table|spark")).as("pos_lit"))
      .orderBy($"doc_id")
  }

  /** `gen_inline_zip`: the `inline` generator over a zipped
    * array<struct> — tokens paired with their lengths via zip_with,
    * exploded by inline (one generate, two output columns), then the
    * corpus top-20 among tokens of length ≥ 6. Same flat-map scaling as
    * explode; the struct zip is what carries multiple parallel arrays
    * through a single generate at 100 TB instead of N self-joins. */
  def inlineTokenPairs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = split($"text", " ")
    val pairs = zip_with(toks, transform(toks, t => length(t)),
      (t, l) => struct(t.as("tok"), l.as("len")))
    Tables.documents(spark, sfDir)
      .select(inline(pairs))
      .filter($"len" >= 6)
      .groupBy($"tok")
      .agg(max($"len").cast(LongType).as("len"), count(lit(1)).as("n"))
      .orderBy($"n".desc, $"tok")
      .limit(20)
      .orderBy($"tok")
  }

  /** `text_tfidf`: per-document TF-IDF over the whitespace vocabulary —
    * tf = term count / doc length, idf = ln(N / docfreq) quantized to
    * 1e-6 BEFORE the product (the [[unigramLogprob]] cross-engine log
    * rule), top-5 terms per document for the first 50 docs, ties broken
    * by term. The docfreq table is computed over the FULL corpus (that's
    * what makes it TF-IDF) while the per-doc side prunes to the output
    * docs at the scan — at 100 TB the vocabulary docfreq side is the
    * classic broadcast dimension (vocab ≪ corpus) and the expensive
    * explode only runs over the slice being scored. */
  def tfidf(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val nDocs = docs.count()
    val toks = docs.select($"doc_id", explode(split($"text", " ")).as("tok"))
    val dfreq = toks.groupBy($"tok")
      .agg(countDistinct($"doc_id").as("df"))
      .select($"tok",
        (floor(log(lit(nDocs.toDouble) / $"df") * 1e6 + 0.5) / 1e6).as("idf"))
    val tf = docs.filter($"doc_id" < 50)
      .select($"doc_id", size(split($"text", " ")).as("len"), $"text")
      .select($"doc_id", $"len", explode(split($"text", " ")).as("tok"))
      .groupBy($"doc_id", $"tok", $"len")
      .agg(count(lit(1)).as("cnt"))
    val scored = tf.join(broadcast(dfreq), "tok")
      .select($"doc_id", $"tok",
        (floor($"cnt".cast(DoubleType) / $"len" * $"idf" * 1e6 + 0.5) / 1e6)
          .as("tfidf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"tfidf".desc, $"tok")
    scored
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 5)
      .select($"doc_id", $"tok", $"tfidf")
      .orderBy($"doc_id", $"tfidf".desc, $"tok")
  }

  /** `text_pii_redact`: PII scrubbing — the pre-training hygiene pass.
    * The corpus has no real PII, so each doc gets a synthetic email +
    * phone tail built FROM its own columns; the redactor then masks
    * every email/phone with regexp_replace (Spark replaces all matches;
    * the DuckDB twin needs the 'g' flag). The gate proves redaction
    * exactly inverts the construction: the redacted tail must collapse
    * to the constant " contact <EMAIL> call <PHONE>" for every row and
    * the residual-match count must be zero. Patterns stay in the
    * Java∩RE2 dialect intersection (character classes, no lookaround).
    * Pure projection — embarrassingly parallel at any scale. */
  def piiRedact(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
    val PhoneRe = "\\+1-555-[0-9][0-9][0-9][0-9]"
    val pii = concat($"text",
      lit(" contact user"), $"doc_id".cast(StringType),
      lit("@mail.example.com call +1-555-"),
      lpad(pmod($"doc_id", lit(10000)).cast(StringType), 4, "0"))
    Tables.documents(spark, sfDir)
      .select($"doc_id", $"text", pii.as("pii"))
      .select($"doc_id",
        regexp_replace(regexp_replace($"pii", EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>").as("redacted"),
        length($"text").as("text_len"))
      .select(
        $"doc_id",
        expr("substring(redacted, text_len + 1)").as("redacted_tail"),
        (length($"redacted") - $"text_len").as("tail_len"),
        regexp_count($"redacted", lit(EmailRe)).as("n_residual_email"),
        regexp_count($"redacted", lit(PhoneRe)).as("n_residual_phone"))
      .orderBy($"doc_id")
  }

  /** `text_decontaminate`: benchmark decontamination — flag training
    * docs sharing any 8-token shingle with a held-out "benchmark" slice
    * (doc_id % 50 == 0 stands in for the eval set). Per contaminated
    * doc: distinct overlapping shingles + distinct benchmark docs hit.
    * The benchmark shingle set is the classic broadcast side (eval
    * suites are MBs; the corpus is the 100 TB side), so the probe is a
    * map-side hash join over the training shingles with no big-side
    * shuffle; at real scale the join key would be xxhash64(shingle)
    * to keep the broadcast compact. Docs shorter than the shingle
    * width are clean by definition. */
  def decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // shingles are carried as xxhash64 the moment they are formed (the
    // dedup_substring_spans rule — counts are hash-invariant absent
    // 64-bit collisions, which the raw-string DuckDB oracle proves):
    // the broadcast bench set is 8 bytes/shingle instead of the raw
    // 8-token strings (~100 MB at the 100× replica, where the string
    // broadcast was the query's whole cost), and the probe side's
    // distinct-count state shrinks identically
    def shingles(df: DataFrame): DataFrame = df
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 8)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 8), i -> xxhash64(array_join(slice(toks, i + 1, 8), ' ')))"))
        .as("shingle"))
    val docs = Tables.documents(spark, sfDir)
    // bench side: distinct to shrink the broadcast; probe side needs no
    // corpus-wide dedup — both final counts are DISTINCT aggregates, so
    // join multiplicity cancels and the big side never shuffles early
    val bench = shingles(docs.filter($"doc_id" % 50 === 0))
      .select($"shingle", $"doc_id".as("bench_doc")).distinct()
    shingles(docs.filter($"doc_id" % 50 =!= 0))
      .join(broadcast(bench), "shingle")
      .groupBy($"doc_id")
      .agg(
        countDistinct($"shingle").as("n_shingles"),
        countDistinct($"bench_doc").as("n_bench_docs"))
      .orderBy($"doc_id")
  }

  /** `dedup_containment`: asymmetric near-dup detection — doc A is
    * CONTAINED in doc B when |shingles(A) ∩ shingles(B)| / |shingles(A)|
    * ≥ τ. This is the quote/excerpt case symmetric Jaccard structurally
    * misses: a paragraph fully embedded in a 100× longer page has
    * containment 1.0 but Jaccard ≈ 0.01. Same canonical machinery as
    * [[ngramJaccard]] (sorted shingle-hash sets, codegen merge-scan
    * verify), with the containment variant of the prefix filter: the
    * required overlap ⌈τ·|A|⌉ depends only on the CONTAINED side, so
    * A joins through an (|A| − ⌈τ·|A|⌉ + 1)-element prefix while B
    * must index every shingle (no size-symmetric bound exists — that
    * asymmetry is the price of the asymmetric predicate).
    *
    * Three pruning steps run before the verify join:
    *  - the probe prefix is A's RAREST tokens (the AllPairs/PPJoin
    *    document-frequency order), so probes walk the shortest posting
    *    lists;
    *  - the |B| ≥ τ·|A| size gate sits INSIDE the posting join key: each
    *    B posting carries its doc's base-4 length bucket g(|B|) = ⌊log₄|B|⌋
    *    and each A posting is replicated across the buckets that can
    *    still pass the gate, so too-short containers are never formed;
    *  - the A-side positional bound |A| − rank ≥ τ·|A| for the first
    *    common token in df order.
    * Output: directed (contained, container, containment) pairs. The
    * flat, hash-order-prefix and broadcast-prefilter forms this plan beat
    * are measured in SCALE.md r18–r20 and
    * `plans/r22/dedup_containment_prefilter_ab.txt`. */
  def dedupContainment(spark: SparkSession, sfDir: String, threshold: Double = 0.8): DataFrame = {
    import spark.implicits._
    val sets = Tables.documents(spark, sfDir)
      .select($"doc_id",
        graft.functions.ShingleFunctions
          .word_shingle_hashes($"text", MinHash.ShingleSize, sorted = true).as("toks"))
      .select($"doc_id", $"toks", size($"toks").as("n"))
      .transform(Materialize.reuse)
    // pruning must never be stricter than the ROUNDED accept rule: the
    // final keep compares containment rounded to 4 decimals, so a pair
    // with true containment in [τ − 5e-5, τ) still rounds up to τ and
    // must survive the prefix/positional/size filters — relax every
    // bound by that half-ulp (plus a float guard) so the filters are a
    // superset of the accepts at any |A|
    val tauLo = threshold - 5e-5
    // ⌊log₄ n⌋ via bit length — exact integer arithmetic (a float log at
    // n = 4^k could round across the bucket edge and silently prune a
    // legitimate pair)
    def g4(n: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      floor((length(bin(n)) - 1) / 2.0).cast("int")
    // Probe prefix: the filter is correct for ANY (na − ⌈τ·na⌉ + 1)-sized
    // subset of A's tokens (if none of them hits B, at most ⌈τ·na⌉ − 1 <
    // τ·na tokens can overlap), so it takes the df-rarest ones. `pa` is
    // the token's df-order RANK within A, and only the A-side half of the
    // positional bound holds: for the df-minimal common token every common
    // token ranks ≥ it, so overlap ≤ na − pa with no B-side position (a
    // hash-order pb would prune true pairs).
    val aAll = sets
      .select($"doc_id".as("doc_a"), $"n".as("na"), explode($"toks"))
      .toDF("doc_a", "na", "tok")
    val dfTab = aAll.groupBy($"tok").agg(count(lit(1)).as("tok_df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_a").orderBy($"tok_df", $"tok")
    val a0 = aAll.join(dfTab, "tok")
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= $"na" - ceil($"na" * lit(tauLo)) + 1)
      .select($"doc_a", $"na", ($"rk" - 1).as("pa"), $"tok")
    val alpha = lit(tauLo) * $"na" - lit(1e-9)
    // one scalar over the checkpointed stats frame: the top bucket every
    // A row replicates up to. coalesce: max over an EMPTY documents table
    // is SQL null, and the query must degrade to an empty result (the
    // bogus-sfDir Verify flow), not NPE on getInt
    val maxN = sets.agg(coalesce(max($"n"), lit(0))).first().getInt(0).toLong
    val gMax = (63 - java.lang.Long.numberOfLeadingZeros(math.max(maxN, 1L))) / 2
    // `pb` is unused; explode instead of posexplode would change the
    // plan the SCALE.md timings measured, so that is left to a measured
    // change
    val b = sets
      .select($"doc_id".as("doc_b"), $"n".as("nb"), posexplode($"toks"))
      .toDF("doc_b", "nb", "pb", "tok")
      .withColumn("g", g4($"nb"))
    val gMin = g4(greatest(ceil(lit(tauLo) * $"na" - lit(1e-9)), lit(1.0)).cast("long"))
    // when τ·na exceeds every doc (gMin > gMax), sequence() runs
    // DESCENDING rather than empty — the stray buckets it emits are all
    // ≤ gMin and their pairs still die on the nb ≥ alpha filter below
    val cand = a0.select($"*", explode(sequence(gMin, lit(gMax))).as("g"))
      .join(b, Seq("tok", "g"))
      .filter($"doc_a" =!= $"doc_b" && $"nb" >= alpha && $"na" - $"pa" >= alpha)
      .select($"doc_a", $"doc_b")
    cand
      .join(sets.select($"doc_id".as("doc_a"), $"toks".as("ta"), $"n".as("na")), "doc_a")
      .join(sets.select($"doc_id".as("doc_b"), $"toks".as("tb")), "doc_b")
      .select($"doc_a", $"doc_b",
        round(graft.functions.ArrayFunctions.sorted_intersect_count($"ta", $"tb")
          .cast(DoubleType) / $"na", 4).as("containment"))
      .filter($"containment" >= threshold)
      .dropDuplicates("doc_a", "doc_b")
      .orderBy($"doc_a", $"doc_b")
  }

  /** `dedup_substring_spans`: exact substring-duplication accounting —
    * the span-granular dedup primitive of large-corpus pipelines (a doc
    * can be 95% unique yet carry a boilerplate paragraph repeated across
    * thousands of pages; doc-level dedup never sees it). Every 8-token
    * span is keyed by `xxhash64` so the shuffle carries (doc_id, 8-byte
    * key) pairs and NEVER raw token strings — the only shape that
    * survives a 100 TB token stream (a production run would widen to a
    * 128-bit hash; at any test scale 64-bit collisions are
    * negligible, the dedup_exact_hash precedent). Distinct spans per
    * doc, then the per-span doc count is a single
    * `COUNT(1) OVER (PARTITION BY h)` on that same frame — one h-keyed
    * shuffle, the span hashing computed once (the r21 rewrite; the old
    * groupBy(h) + join-back planned the scan→explode→hash subtree
    * twice) → per-doc duplicated-span count and fraction. Docs shorter
    * than the span width have no spans and no row. */
  def dedupSubstringSpans(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sp = Tables.documents(spark, sfDir)
      .select($"doc_id", split($"text", " ").as("toks"))
      .filter(size($"toks") >= 8)
      .select($"doc_id", explode(expr(
        "transform(sequence(0, size(toks) - 8), i -> xxhash64(array_join(slice(toks, i + 1, 8), ' ')))"))
        .as("h"))
      .distinct()
    // sp is already distinct per (doc, span), so the per-span doc count
    // is a COUNT OVER (PARTITION BY h) on sp itself — one window over
    // the h-shuffled frame instead of the old groupBy(h) + self-join,
    // which planned the scan→explode→distinct subtree TWICE (4 parquet
    // scans / 12 exchanges at sf0.1; the span hashing is the dominant
    // per-row work, so computing it once halves the map work) and added
    // a join exchange. Identical n_docs per row, bit-identical output.
    sp.withColumn("n_docs", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"h")))
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when($"n_docs" >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
      .select($"doc_id", $"n_spans", $"n_dup_spans",
        graft.Det.r4($"n_dup_spans".cast(DoubleType) / $"n_spans").as("dup_frac"))
      .orderBy($"doc_id")
  }

  /** `text_bigram_logprob`: per-document mean negative log-probability
    * under the corpus BIGRAM model — the next-order perplexity proxy
    * after [[unigramLogprob]]: p(w2|w1) = cnt(w1 w2) / cnt(w1 ·), so a
    * document full of locally-unusual transitions scores high even when
    * every individual token is common (the signal the unigram filter
    * misses). Bigrams are built per row with offset slices (`zip_with`,
    * the [[ngramFreq]] shape — never a token-stream window sort); both
    * model joins key on the bigram/prefix and stay SHUFFLED, not
    * broadcast: unlike the unigram vocab, the bigram table grows toward
    * vocab² under Zipf and is exactly the side a 100 TB run must not
    * force into executor memory. `ln` is quantized to 1e-6 pre-average
    * (libm 1-ulp defense, see [[unigramLogprob]]); the decimal-cast
    * average is exact and merge-order-free. Documents with fewer than
    * two tokens have no transitions and no row. */
  // r21 note: two restructures of this query (single-explode +
  // staged model) were measured WORSE at 10x (2.2 s and 4.5 s vs
  // 1.46 s for this form - the partial-aggregated explodes are
  // cheap scans; the staging barriers were not) and reverted.
  def bigramLogprob(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = split($"text", " ")
    val bigrams = Tables.documents(spark, sfDir)
      .select($"doc_id", toks.as("toks"), (size(toks) - 1).as("m"))
      .where($"m" >= 1)
      .select($"doc_id", explode(zip_with(
        slice($"toks", lit(1), $"m"), slice($"toks", lit(2), $"m"),
        (a, b) => struct(a.as("w1"), concat(a, lit(" "), b).as("bg")))).as("p"))
      .select($"doc_id", $"p.w1".as("w1"), $"p.bg".as("bg"))
    val bgFreq = bigrams.groupBy($"bg").agg(count(lit(1)).as("bg_cnt"))
    val w1Freq = bigrams.groupBy($"w1").agg(count(lit(1)).as("w1_cnt"))
    // -ln p(w2|w1) = ln(prefix count) - ln(bigram count), quantized 1e-6
    val nll = floor((log($"w1_cnt") - log($"bg_cnt")) * 1e6 + 0.5) / 1e6
    bigrams
      .join(bgFreq, "bg")
      .join(w1Freq, "w1")
      .select($"doc_id", nll.cast(DecimalType(18, 10)).as("nllq"))
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        graft.Det.r4(sum($"nllq").cast(DoubleType) / count(lit(1))).as("avg_nll"))
      .orderBy($"doc_id")
  }

  def langStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // token count = separator count + 1 (split(" ") semantics, empties
    // included) — counting spaces arithmetically skips materializing the
    // token array per document just to take its size
    val nTokens = (length($"text") - length(replace($"text", lit(" "), lit(""))) + 1)
      .cast(LongType)
    Tables.documents(spark, sfDir)
      .select($"lang", $"n_chars", nTokens.as("n_tokens"))
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        graft.Det.r4(sum($"n_chars").cast(DoubleType) / count(lit(1))).as("avg_chars"),
        graft.Det.r4(sum($"n_tokens").cast(DoubleType) / count(lit(1))).as("avg_tokens"))
      .orderBy($"lang")
  }

  /** `sample_temperature_weights`: temperature-scaled language mixing —
    * the multilingual sampling step of a pretraining pipeline: raw
    * token shares are flattened with T=2 temperature (weight ∝ share^(1/2))
    * so low-resource languages are up-sampled relative to their natural
    * share, and a global token budget (half the corpus) is allocated
    * across languages by largest-remainder apportionment so the integer
    * allocations sum EXACTLY to the budget.
    *
    * Exactness across engines: the only floating step is
    * `sqrt(lang_tokens / total_tokens)` — one IEEE-correctly-rounded
    * division and one IEEE-correctly-rounded sqrt, identical on any
    * conforming engine — which is immediately quantized to an integer
    * ppm weight; every downstream step (weight sum, budget products,
    * floor division, remainder ranking) is 64-bit integer arithmetic.
    * α=1/2 specifically because sqrt is the one power the IEEE standard
    * requires correctly rounded — `pow(x, 0.71)` would be libm-dependent.
    *
    * Plan shape at scale: one scan → per-lang partial agg → all
    * remaining math on the language-cardinality frame (the empty-key
    * windows run over #langs rows, not the corpus). Budget×weight
    * products stay under 2^63 up to ~10^12-token corpora per the ppm
    * scaling; beyond that the ppm constant drops a digit. */
  def sampleTemperatureWeights(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val nTokens = (length($"text") - length(replace($"text", lit(" "), lit(""))) + 1)
      .cast(LongType)
    // intentional global windows: frames are the per-lang aggregate
    // (#langs rows at any corpus size)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val wRank = org.apache.spark.sql.expressions.Window.partitionBy()
      .orderBy($"rem".desc, $"lang")
    Tables.documents(spark, sfDir)
      .select($"lang", nTokens.as("toks"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"toks").as("lang_tokens"))
      .withColumn("total_toks", sum($"lang_tokens").over(wAll))
      .withColumn("weight_ppm",
        floor(sqrt($"lang_tokens".cast(DoubleType) / $"total_toks".cast(DoubleType))
          * 1e6 + 0.5).cast(LongType))
      .withColumn("sum_w", sum($"weight_ppm").over(wAll))
      .withColumn("budget", expr("total_toks div 2"))
      .withColumn("alloc_floor", expr("(budget * weight_ppm) div sum_w"))
      .withColumn("rem", expr("(budget * weight_ppm) % sum_w"))
      .withColumn("leftover", $"budget" - sum($"alloc_floor").over(wAll))
      .withColumn("rk", row_number().over(wRank))
      .select($"lang", $"n_docs", $"lang_tokens", $"weight_ppm",
        ($"alloc_floor" + when($"rk" <= $"leftover", 1L).otherwise(0L))
          .as("alloc_tokens"),
        expr("((alloc_floor + (CASE WHEN rk <= leftover THEN 1 ELSE 0 END))" +
          " * 1000000) div lang_tokens").as("rate_ppm"))
      .orderBy($"lang")
  }

  /** `sample_balanced_classes`: exact class rebalancing — every language
    * downsampled to the SMALLEST class's size (the classifier-training
    * prep step where unequal classes bias the model): docs are ranked
    * within their class by content hash (md5 of doc_id, doc_id
    * tie-break — so the kept set is engine-, partition- and
    * insertion-order-independent, unlike RNG sampling) and the first
    * min-class-size ranks survive. The per-class rank is one window
    * sort per class partition — the standard shape; the min-size is a
    * #langs-frame scalar. The kept SET itself is pinned, not just its
    * size: the output carries an md5 over the ordered kept doc_ids,
    * which the oracle recomputes — a count could mask a different
    * selection, the digest cannot. */
  def balancedClasses(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val wLang = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"h", $"doc_id")
    val wCls = org.apache.spark.sql.expressions.Window.partitionBy($"lang")
    // min class size as a 1-ROW BROADCAST SCALAR (the q11/q15 scalar-
    // denominator pattern), not `min(cls_n) OVER ()`: the global window
    // form moved the ENTIRE doc-level frame through one
    // Exchange SinglePartition → Window — the exact single-partition
    // scale-killer PlanAuditSpec's r22 global-window guard exists to
    // catch (it flagged this site; every other global window sits on a
    // #langs-sized aggregate). The scalar branch re-reads only
    // (doc_id→count, lang) through a map-side partial aggregate —
    // partial-agg re-scans are the cheap kind (the bigram_logprob
    // lesson) — and min-of-class-counts ≡ min-over-window by
    // definition, so rows, hashes and the oracle are unchanged.
    val minN = broadcast(Tables.documents(spark, sfDir)
      .groupBy($"lang").agg(count(lit(1)).as("cls_n0"))
      .agg(min($"cls_n0").as("min_n")))
    Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang", md5($"doc_id".cast(StringType)).as("h"))
      .withColumn("rk", row_number().over(wLang))
      .withColumn("cls_n", count(lit(1)).over(wCls))
      .crossJoin(minN)
      .filter($"rk" <= $"min_n")
      .groupBy($"lang")
      .agg(
        first($"cls_n").as("n_docs"),
        count(lit(1)).as("n_kept"),
        md5(concat_ws(",", transform(sort_array(collect_list($"doc_id")),
          x => x.cast(StringType)))).as("kept_ids_md5"))
      .orderBy($"lang")
  }

  /** `sample_poisson_bootstrap`: the online-bootstrap resample — every
    * document replicated Poisson(1) times, the standard trick for
    * computing bootstrap confidence intervals over a corpus in ONE pass
    * (each of B resamples weights every row by an independent
    * Poisson(1) draw instead of materializing B samples-with-
    * replacement). The draw is DETERMINISTIC: two md5 hex digits of the
    * doc_id → a byte 0..255 → inverse-CDF thresholds 94/188/235/251,
    * the Poisson(1) pmf quantized to 256ths (P(0)≈P(1)≈.368, P(2)≈.184,
    * P(3)≈.061, tail→4) — reproducible, engine-independent, and stable
    * under repartitioning like [[sampleSplitAssign]]. Replication is a
    * bounded explode (k ≤ 4): a per-row generator, never a driver loop,
    * and the shuffle carries only (lang, n_chars) — the text never
    * rides the resample. The report joins the resampled per-language
    * aggregate back onto the original on the language key (a handful of
    * rows, broadcast); `boot_ratio` is the resampling-noise diagnostic
    * read before trusting a bootstrap CI. */
  def samplePoissonBootstrap(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val b = conv(substring(md5($"doc_id".cast(StringType)), 1, 2), 16, 10)
      .cast(IntegerType)
    val k = when(b < 94, 0).when(b < 188, 1).when(b < 235, 2)
      .when(b < 251, 3).otherwise(4)
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang", $"n_chars", k.as("k"))
    val boot = docs
      .select($"lang", $"n_chars",
        explode(when($"k" > 0, sequence(lit(1), $"k"))
          .otherwise(array().cast("array<int>"))).as("rep"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_boot"), sum($"n_chars").as("chars_boot"))
    docs.groupBy($"lang")
      .agg(count(lit(1)).as("n_orig"), sum($"n_chars").as("chars_orig"))
      .join(boot, Seq("lang"), "left")
      .select($"lang", $"n_orig", $"chars_orig",
        coalesce($"n_boot", lit(0L)).as("n_boot"),
        coalesce($"chars_boot", lit(0L)).as("chars_boot"),
        graft.Det.r4(coalesce($"n_boot", lit(0L)).cast(DoubleType) /
          $"n_orig".cast(DoubleType)).as("boot_ratio"))
      .orderBy($"lang")
  }

  /** `pipeline_corpus_build`: the END-TO-END corpus build — the query a
    * user of this engine actually ships: quality gate → exact dedup →
    * temperature-budget sampling, composed as ONE declarative plan so
    * Catalyst sees the whole funnel (the quality filter prunes before
    * the dedup shuffle; the per-lang mixing math runs on the
    * #langs-row aggregate; the final keep decision is a broadcast join
    * of that tiny rate table back onto the deduped docs). Per language
    * the report carries every funnel stage: raw docs → quality
    * survivors (the `text_quality_classifier` score ≥ its review
    * threshold) → unique texts (min-doc_id canonical, the `dedup_exact`
    * rule) → token-budget keeps (sqrt-temperature weights, largest
    * remainder, the `sample_temperature_weights` math; selection by
    * md5-bucket cross-multiplication — five unrolled hex digits, so
    * the keep set is engine- and partition-independent). All integer
    * after the one sqrt; the oracle replays the identical funnel. */
  def corpusBuild(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = split($"text", " ")
    val nToks = size(toks).cast(LongType)
    val stopCnt = (size(toks) -
      size(array_remove(array_remove(toks, "the"), "a"))).cast(LongType)
    val distinctCnt = size(array_distinct(toks)).cast(LongType)
    val ppm = (num: org.apache.spark.sql.Column) =>
      floor(num * 1000000.0 / nToks + 0.5).cast(LongType)
    val score = ppm(distinctCnt) + lit(4L) * ppm(stopCnt) +
      lit(10000L) * least(nToks, lit(64L))
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang", $"text", nToks.as("n_toks"),
        (score >= 1100000L).as("q_ok"))
    val rawStats = docs.groupBy($"lang")
      .agg(count(lit(1)).as("n_docs_raw"),
        sum(when($"q_ok", 1L).otherwise(0L)).as("n_docs_quality"))
    // localCheckpoint: `uniq` is consumed twice (rate table + the kept
    // scan) and its subtree is the full corpus scan + text-keyed dedup —
    // the old lazy form re-ran both per consumer (2 of the plan's 3
    // documents scans). The staged frame is metadata-sized (doc_id,
    // lang, n_toks — the deduped doc list a 100 TB pipeline stages to
    // parquet before sampling). No explicit free: the returned lazy
    // frame reads these blocks (min-of-2 re-executes it) — reclamation
    // is the ContextCleaner's, as for pmiCooccur's cxy (r21 advisor).
    val uniq = docs.filter($"q_ok")
      .groupBy($"text")
      .agg(min(struct($"doc_id", $"lang", $"n_toks")).as("m"))
      .select($"m.doc_id".as("doc_id"), $"m.lang".as("lang"),
        $"m.n_toks".as("n_toks"))
      .transform(Materialize.reuse)
    // intentional global windows: frames are the per-lang aggregate
    // (#langs rows at any corpus size)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val wRank = org.apache.spark.sql.expressions.Window.partitionBy()
      .orderBy($"rem".desc, $"lang")
    val rates = uniq.groupBy($"lang")
      .agg(count(lit(1)).as("n_docs_unique"), sum($"n_toks").as("lang_tokens"))
      .withColumn("total_toks", sum($"lang_tokens").over(wAll))
      .withColumn("weight_ppm",
        floor(sqrt($"lang_tokens".cast(DoubleType) / $"total_toks".cast(DoubleType))
          * 1e6 + 0.5).cast(LongType))
      .withColumn("sum_w", sum($"weight_ppm").over(wAll))
      .withColumn("budget", expr("total_toks div 2"))
      .withColumn("alloc_floor", expr("(budget * weight_ppm) div sum_w"))
      .withColumn("rem", expr("(budget * weight_ppm) % sum_w"))
      .withColumn("leftover", $"budget" - sum($"alloc_floor").over(wAll))
      .withColumn("rk", row_number().over(wRank))
      .select($"lang", $"n_docs_unique", $"lang_tokens",
        least(expr("((alloc_floor + (CASE WHEN rk <= leftover THEN 1 ELSE 0 END))" +
          " * 1000000) div lang_tokens"), lit(1000000L)).as("rate_ppm"))
    val hex = "0123456789abcdef"
    val h = md5($"doc_id".cast(StringType))
    val bucket = (0 until 5).map { i =>
      (instr(lit(hex), substring(h, i + 1, 1)) - 1).cast(LongType) *
        (1L << (4 * (4 - i)))
    }.reduce(_ + _)
    uniq.join(broadcast(rates), "lang")
      .withColumn("kept", bucket * 1000000L < $"rate_ppm" * 1048576L)
      .groupBy($"lang")
      .agg(
        first($"n_docs_unique").as("n_docs_unique"),
        first($"lang_tokens").as("lang_tokens"),
        first($"rate_ppm").as("rate_ppm"),
        sum(when($"kept", 1L).otherwise(0L)).as("n_docs_kept"),
        sum(when($"kept", $"n_toks").otherwise(0L)).as("n_tokens_kept"))
      .join(rawStats, "lang")
      .select($"lang", $"n_docs_raw", $"n_docs_quality", $"n_docs_unique",
        $"lang_tokens", $"rate_ppm", $"n_docs_kept", $"n_tokens_kept")
      .orderBy($"lang")
  }

  /** `text_dedup_lines`: C4-style boilerplate-line removal — the
    * REWRITE step the span-accounting op (`dedup_substring_spans`)
    * deliberately stops short of: documents are cut into ALIGNED
    * 16-token segments (the "line" unit), any segment whose exact text
    * appears in ≥ 4 distinct documents is removed as boilerplate, and
    * each document is re-assembled from its kept segments in order —
    * emitted as a content digest (the cleaned corpus never rides the
    * final shuffle, only its md5). The segment-frequency shuffle carries
    * `xxhash64(segment)` keys, not segment text (the
    * `dedup_substring_spans` rule — counts are hash-invariant absent
    * 64-bit collisions, which the raw-string oracle proves); the
    * reassembly is one (doc, segment) sort-free collect_list +
    * array_sort on segment ordinals. */
  def dedupLines(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val SegTokens = 16
    val MinDocs = 4
    val toks = split($"text", " ")
    val segs = Tables.documents(spark, sfDir)
      .select($"doc_id", toks.as("toks"),
        ceil(size(toks) / lit(SegTokens.toDouble)).cast(IntegerType).as("nseg"))
      .select($"doc_id", $"toks", explode(sequence(lit(0), $"nseg" - 1)).as("i"))
      .select($"doc_id", $"i",
        concat_ws(" ", slice($"toks", $"i" * SegTokens + 1, lit(SegTokens)))
          .as("seg"))
      .withColumn("h", xxhash64($"seg"))
    // join the text-carrying side against the BOILERPLATE set only, not
    // the full (h, ndocs) frequency table: boilerplate (a hash seen in
    // ≥ MinDocs documents) is small by nature, so AQE broadcasts it and
    // the exploded-segment side never shuffles for the join at all —
    // measured 6.1 s → 0.72 s at salted-100× (SCALE.md r17), where the
    // full-freq equi-join was the one AQE-regressed plan in the r17
    // sweep (byte-sized coalescing can't see the per-row rebuild CPU).
    // Unhinted on purpose: if boilerplate ever outgrows the broadcast
    // threshold, AQE falls back to the old SMJ — never worse.
    val boiler = segs.groupBy($"h").agg(count_distinct($"doc_id").as("ndocs"))
      .filter($"ndocs" >= MinDocs)
      .select($"h", lit(true).as("is_boiler"))
    segs.join(boiler, Seq("h"), "left")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when($"is_boiler".isNotNull, 1L).otherwise(0L)).as("n_removed"),
        md5(concat_ws(" ", transform(
          array_sort(collect_list(when($"is_boiler".isNull,
            struct($"i", $"seg")))),
          s => s.getField("seg")))).as("cleaned_md5"))
      .orderBy($"doc_id")
  }

  /** `text_quality_classifier`: model-based quality filtering — the
    * fastText-classifier stage of a pretraining pipeline (heuristic
    * ratios feed a TRAINED model whose verdict gates the document),
    * expressed as a fixed-weight linear model over integer ppm features:
    * lexical diversity (distinct/total tokens), stopword presence
    * (natural prose HAS function words — their absence flags keyword
    * stuffing), and capped length credit. Weights and thresholds are
    * literals (a deployed model is a constant at inference time); the
    * score is pure 64-bit integer arithmetic after the one
    * double-rounded ppm division each feature makes (identical
    * expression on both engines), so the three-way keep/review/drop
    * verdict is oracle-exact. One scan, no joins, no windows — the
    * shape that lets a classifier gate run inline with ingestion at
    * 100 TB. */
  def qualityClassifier(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = split($"text", " ")
    val nToks = size(toks).cast(LongType)
    val stopCnt = (size(toks) -
      size(array_remove(array_remove(toks, "the"), "a"))).cast(LongType)
    val distinctCnt = size(array_distinct(toks)).cast(LongType)
    val ppm = (num: org.apache.spark.sql.Column) =>
      floor(num * 1000000.0 / nToks + 0.5).cast(LongType)
    Tables.documents(spark, sfDir)
      .select($"doc_id", nToks.as("n_tokens"),
        ppm(distinctCnt).as("rep_ppm"), ppm(stopCnt).as("stop_ppm"))
      .withColumn("score",
        $"rep_ppm" + lit(4L) * $"stop_ppm" + lit(10000L) * least($"n_tokens", lit(64L)))
      .withColumn("verdict",
        when($"score" >= 1400000L, "keep")
          .when($"score" >= 1100000L, "review")
          .otherwise("drop"))
      .orderBy($"doc_id")
  }

  /** `text_hash_features`: hashing-trick featurization (the HashingTF
    * shape) — tokens are mapped straight into a FIXED 64-dim feature
    * space by content hash, with no vocabulary pass at all: the property
    * that makes the trick the 100 TB default (a vocab build is a global
    * distinct + dense-rank over the token stream; the hash needs zero
    * coordination and is stable as the corpus grows). Bucket = first two
    * md5 hex digits (engine-independent integer arithmetic, the
    * `sample_domain_budget` idiom) mod 64. Emits the long-form sparse
    * matrix (doc, bucket, term count, distinct terms — the collision
    * monitor); one explode + one (doc, bucket) hash agg with map-side
    * combine, no windows, no joins. */
  def hashFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val hex = "0123456789abcdef"
    val h = md5($"tok")
    val bucket = pmod(
      (instr(lit(hex), substring(h, 1, 1)) - 1) * 16 +
        (instr(lit(hex), substring(h, 2, 1)) - 1),
      lit(64)).cast(IntegerType)
    Tables.documents(spark, sfDir)
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .select($"doc_id", bucket.as("bucket"), $"tok")
      .groupBy($"doc_id", $"bucket")
      .agg(count(lit(1)).as("tf"),
        count_distinct($"tok").as("n_terms"))
      .orderBy($"doc_id", $"bucket")
  }

  /** `text_perplexity_bucket`: CCNet-style perplexity filtering — each
    * language's documents are split into head/middle/tail terciles by
    * bigram-LM average NLL (lowest third = head = most natural text;
    * the bucket is THE quality gate CCNet-descended pipelines train on).
    * Builds on [[bigramLogprob]]'s oracle-exact per-doc scores: since
    * both engines produce bit-identical `avg_nll`, the `ntile(3)` over
    * `(avg_nll, doc_id)` is fully deterministic — the windows run per
    * language, so frame size is corpus/#langs, and the score computation
    * itself stays the one-scan explode + two count joins shape. */
  def perplexityBucket(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"lang")
      .orderBy($"avg_nll", $"doc_id")
    bigramLogprob(spark, sfDir)
      .join(Tables.documents(spark, sfDir).select($"doc_id", $"lang"), "doc_id")
      .withColumn("tercile", ntile(3).over(w))
      .select($"doc_id", $"lang", $"n_bigrams", $"avg_nll",
        when($"tercile" === 1, "head").when($"tercile" === 2, "middle")
          .otherwise("tail").as("ppl_bucket"))
      .orderBy($"doc_id")
  }

  /** `text_html_strip`: HTML boilerplate removal — the step that runs
    * before every other filter when a corpus comes from a web crawl:
    * strip tags (`<[^>]*>` → space), decode the common entities, collapse
    * whitespace, and report the digest/length/token surface of the clean
    * text. The fixture corpus is plain text, so the markup is synthesized
    * deterministically from the row's own columns first (the same
    * build-from-columns idiom as the PII/URL/sentence fixtures) — tags
    * around the doc, entity-escaped separators inside it — then removed;
    * the digest pins that the removal recovered exactly the intended
    * text. Pure per-row scalar chain inside whole-stage codegen; the only
    * shuffle is the output ORDER BY. */
  def htmlStrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val html = concat(
      lit("<html><body><h1>Doc "), $"doc_id".cast(StringType), lit("</h1><p>"),
      regexp_replace($"text", " the ", " &amp; "),
      lit("</p><footer>&copy; "), $"source", lit(" &lt;eof&gt;</footer></body></html>"))
    val stripped = regexp_replace(html, "<[^>]*>", " ")
    // entity order matters only if entities nest; these never do. All-
    // occurrence `replace` in both engines.
    val unescaped =
      expr("""replace(replace(replace(replace(stripped,
              '&lt;', '<'), '&gt;', '>'), '&copy;', '(c)'), '&amp;', '&')""")
    val clean = trim(regexp_replace(unescaped, " +", " "))
    Tables.documents(spark, sfDir)
      .select($"doc_id", stripped.as("stripped"))
      .select($"doc_id", clean.as("clean"))
      .select(
        $"doc_id",
        md5($"clean").as("clean_md5"),
        length($"clean").as("clean_len"),
        size(split($"clean", " ")).as("n_tokens"))
      .orderBy($"doc_id")
  }

  /** `text_readability`: Flesch reading-ease per document — the classic
    * surface-statistics readability score (words/sentence and
    * syllables/word), a standard quality-bucketing signal next to the
    * perplexity family. Sentence boundaries are synthesized like
    * `text_sentence_split` (` the ` → `. `); syllables are approximated
    * as vowel-group runs (`[aeiouy]+`), the usual cheap estimator. The
    * score arithmetic is a fixed IEEE double expression over integer
    * counts (each op correctly rounded, so engine-identical), quantized
    * HALF_UP to 4 places BEFORE the band thresholds so both engines
    * bucket the same value. One scan, per-row regex counts in codegen,
    * no shuffle but the output sort. */
  def readability(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = regexp_replace($"text", " the ", ". ")
    val base = Tables.documents(spark, sfDir)
      .select(
        $"doc_id",
        (regexp_count(t, lit("\\. ")) + 1).cast(LongType).as("n_sentences"),
        size(split(t, " ")).cast(LongType).as("n_words"),
        regexp_count(lower(t), lit("[aeiouy]+")).cast(LongType).as("n_syllables"))
    val w = $"n_words".cast(DoubleType)
    val s = $"n_sentences".cast(DoubleType)
    val sy = $"n_syllables".cast(DoubleType)
    val flesch = graft.Det.r4s(
      lit(206.835) - lit(1.015) * (w / s) - lit(84.6) * (sy / w))
    base.select(
        $"doc_id", $"n_words", $"n_sentences", $"n_syllables",
        flesch.as("flesch"),
        when(flesch >= 80.0, "easy").when(flesch >= 55.0, "medium")
          .otherwise("hard").as("band"))
      .orderBy($"doc_id")
  }

  /** `text_vocab_novelty`: per-document vocabulary novelty — the
    * fraction of a doc's distinct words that no earlier doc (by doc_id,
    * the corpus ingest order) has used. The running-diversity signal a
    * curriculum/dedup pipeline watches: novelty collapsing toward 0
    * means the crawl is re-reading itself. Shape: distinct-token explode
    * → per-token min(doc_id) (the first seer) → join back → per-doc
    * conditional count. Both aggregates map-side combine and the join is
    * token-keyed equi — at 100 TB the token strings would ride as
    * xxhash64 keys, but the oracle gate needs engine-portable values, so
    * the (short) words themselves key the shuffle here. */
  def vocabNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, sfDir)
      .select($"doc_id", explode(array_distinct(split($"text", " "))).as("tok"))
    val firstSeen = toks.groupBy($"tok").agg(min($"doc_id").as("first_doc"))
    toks.join(firstSeen, "tok")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_vocab"),
        count(when($"first_doc" === $"doc_id", 1)).as("n_novel"))
      .select($"doc_id", $"n_vocab", $"n_novel",
        graft.Det.r4($"n_novel".cast(DoubleType) / $"n_vocab".cast(DoubleType))
          .as("novelty"))
      .orderBy($"doc_id")
  }

  /** `text_compression_ratio`: the compression-ratio quality filter —
    * DEFLATE length over raw UTF-8 length per document, with the keep
    * flag on the QUANTIZED ratio (near-constant byte streams compress
    * far below the prose band and get dropped; the signal per-token
    * heuristics miss). The deflate runs inside the codegen
    * [[graft.functions.DeflateLen]] expression: only the LENGTH escapes,
    * the compressed bytes never ride a row. Oracle-exempt (DuckDB has no
    * zlib surface) — spec-gated by independent recompute + planted
    * fixed points + determinism. One scan, no shuffle but the sort. */
  def compressionRatio(spark: SparkSession, sfDir: String,
      threshold: Double = 0.25): DataFrame = {
    import spark.implicits._
    val dlen = graft.functions.DeflateLen.deflate_len($"text")
    Tables.documents(spark, sfDir)
      .select($"doc_id",
        length($"text").as("raw_len"),
        dlen.as("deflate_len"))
      .select($"doc_id", $"raw_len", $"deflate_len",
        graft.Det.r4($"deflate_len".cast(DoubleType) / $"raw_len".cast(DoubleType))
          .as("ratio"))
      .withColumn("keep",
        ($"ratio" >= threshold).cast(org.apache.spark.sql.types.IntegerType))
      .orderBy($"doc_id")
  }

  /** `text_pmi_cooccur`: pointwise mutual information of token pairs
    * co-occurring within a ±2 skip-gram window — the association score
    * embedding-era pipelines (word2vec/GloVe lineage) derive before
    * factorization, and a collocation detector in its own right. Pair
    * generation is IN-ROW (two `element_at` projections per position —
    * no self-join: a position joins only its own +1/+2 neighbors), so
    * the only shuffles are the pair-count and unigram-count aggregates,
    * both map-side combinable on token keys; the PMI log is quantized
    * to micro-units (the tfidf idiom) AFTER exact integer count
    * arithmetic. Output bounded by the `minPairCount` support filter —
    * standard practice (PMI of rare pairs is noise) and what keeps the
    * result a model table, not a corpus blowup, at 100 TB. */
  def pmiCooccur(spark: SparkSession, sfDir: String,
      minPairCount: Int = 3): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val toks = split($"text", " ")
    val pos = docs.select($"doc_id", toks.as("ts"))
      .select($"doc_id", $"ts", posexplode($"ts").as(Seq("p", "a")))
    // p is 0-based, element_at 1-based: neighbors at +1 and +2.
    // try_element_at, not element_at: under default ANSI an index past
    // the array end throws; try_ gives the NULL the where-filter eats
    val pairs = pos.select($"a",
        explode(array(expr("try_element_at(ts, p + 2)"),
          expr("try_element_at(ts, p + 3)"))).as("b"))
      .where($"b".isNotNull)
    // ONE corpus explode pass: the old shape planned the posexplode+
    // neighbor-explode subtree FOUR times (c_xy, c_x, c_y, n_pairs each
    // re-read and re-exploded the corpus — 4 parquet scans / 8 Generates
    // at sf0.1). Aggregate to pair counts once (localCheckpoint = the
    // ngramJaccardPairs `sets` staging rule: a 100 TB pipeline stages
    // the pair counts before the marginals); every marginal is then an
    // exact integer sum over the vastly smaller pair-count frame.
    // No explicit free: the RETURNED lazy frame reads these blocks (a
    // min-of-2 bench re-executes it), so freeing here would truncate
    // live lineage — reclamation is deliberately left to the
    // ContextCleaner once the returned frame is GC'd (r21 advisor;
    // contrast GraphOps' per-round frees, whose consumers are fully
    // materialized before the free).
    val cxy = pairs.groupBy($"a", $"b").agg(count(lit(1)).as("c_xy"))
      .transform(Materialize.reuse)
    val cx = cxy.groupBy($"a").agg(sum($"c_xy").as("c_x"))
    val cy = cxy.groupBy($"b").agg(sum($"c_xy").as("c_y"))
    // coalesce: empty-corpus sum is NULL where the old count said 0
    val nTot = cxy.agg(coalesce(sum($"c_xy"), lit(0L)).as("n_pairs"))
    cxy.filter($"c_xy" >= minPairCount)
      .join(cx, "a").join(cy, "b")
      .crossJoin(broadcast(nTot))
      .select($"a", $"b", $"c_xy",
        graft.Det.r6s(log(
          ($"c_xy".cast(DoubleType) * $"n_pairs".cast(DoubleType)) /
            ($"c_x".cast(DoubleType) * $"c_y".cast(DoubleType))))
          .as("pmi"))
      .orderBy($"a", $"b")
  }

  /** `dedup_template_hash`: template/boilerplate clustering — docs are
    * grouped by the SHAPE of their opening (the lengths of the first 10
    * tokens, digest-keyed), the cheap structural signature that catches
    * machine-generated template families exact-hash dedup misses (same
    * skeleton, different fill-ins) without any pair join: one
    * projection + one hash-keyed aggregate, the most scalable near-dup
    * signal there is. Canonical doc = min doc_id per cluster, the same
    * convention as `dedup_exact`/`dedup_cluster_canonical`. */
  def templateHash(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val shape = array_join(
      transform(slice(split($"text", " "), 1, 10),
        t => length(t).cast(StringType)), " ")
    Tables.documents(spark, sfDir)
      .select($"doc_id", md5(shape).as("template_md5"))
      .groupBy($"template_md5")
      .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("canonical_doc"))
      .filter($"n_docs" > 1)
      .orderBy($"template_md5")
  }
}
