package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Materialize, Tables}

/** MinHash + LSH near-duplicate detection over `documents`
  * (SURVEY.md §2.2 `dedup_fuzzy_minhash`; the standard
  * shingle→minhash→band→bucket-join pipeline).
  *
  * Deterministic by construction: the K "permutations" are xxhash64 with
  * K distinct salts — seeded, data-independent, identical across runs and
  * cluster layouts.
  *
  * Scale path (this is the part that must survive 100 TB):
  *  - signatures are one explode + hash-shuffle on doc_id (map-side
  *    combined mins);
  *  - candidate generation is a self-equi-join on (band, band_hash) — the
  *    classic LSH bucket join. NEVER an O(n²) cross join: only documents
  *    sharing a band bucket meet.
  *  - verification is per-pair signature comparison (zip_with, O(K)).
  */
object MinHash {
  val NumHashes   = 32
  val NumBands    = 8
  val RowsPerBand: Int = NumHashes / NumBands
  val ShingleSize = 3

  /** Word k-shingles (k consecutive tokens) as an array column. Shingles —
    * not raw tokens — carry sequence information: these documents all draw
    * from one small vocabulary, so token-*set* Jaccard is ~0.6 between
    * unrelated docs while shingle Jaccard separates cleanly. Documents
    * shorter than k tokens contribute their whole text as one shingle. */
  def shinglesCol(text: Column): Column = {
    val toks = split(text, " ")
    array_distinct(transform(
      sequence(lit(0), greatest(size(toks) - ShingleSize, lit(0))),
      i => concat_ws(" ", slice(toks, i + 1, lit(ShingleSize)))))
  }

  /** Distinct shingle *hashes* (8 bytes each) — the scale representation:
    * every downstream explode/shuffle carries longs, never shingle text.
    * Values = xxhash64(shingle string, seed 42), computed by the fused
    * codegen expression [[graft.functions.WordShingleHashes]]. */
  def shingleHashesCol(text: Column): Column =
    graft.functions.ShingleFunctions.word_shingle_hashes(text, ShingleSize)

  /** Per-document MinHash signature as an array<bigint> column over the
    * shingle set — one [[graft.functions.MinHashSigAgg]] pass (k seeded
    * xxhash64 remixes, element-wise min with map-side combine). */
  def signatures(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(shingleHashesCol(col("text"))).as("tok"))
      .groupBy(col("doc_id"))
      .agg(graft.functions.MinHashFunctions.minhash_agg(col("tok"), NumHashes).as("sig"))

  /** Explode each signature into its LSH bands: (doc_id, band, band_hash). */
  def bands(sigs: DataFrame): DataFrame = {
    val bandCols = (0 until NumBands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(lit(b), slice(col("sig"), b * RowsPerBand + 1, RowsPerBand)).as("band_hash"))
    }
    sigs.select(col("doc_id"), col("sig"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("sig"), col("bb.band").as("band"), col("bb.band_hash").as("band_hash"))
  }

  /** Estimated Jaccard = fraction of agreeing MinHash positions. */
  def estJaccard(sigA: Column, sigB: Column): Column =
    aggregate(zip_with(sigA, sigB, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast(DoubleType) / lit(NumHashes.toDouble)

  /** `dedup_fuzzy_minhash`: candidate pairs from the band join, verified
    * at estimated-Jaccard >= threshold. Output: (doc_a, doc_b, est_jaccard). */
  def fuzzyDedup(spark: SparkSession, sfDir: String, threshold: Double = 0.5): DataFrame = {
    import spark.implicits._
    // materialize the signature table once: it feeds both band-join sides
    // and both verification joins (4 consumers), and each re-derivation
    // repeats the explode + signature shuffle. Same staging rationale as
    // the tokenized corpus in TextOps.ngramJaccardPairs.
    val sigs = Materialize.reuse(signatures(Tables.documents(spark, sfDir)))
    // candidate generation on (doc_id, band, band_hash) only — the 32-long
    // signature arrays do not ride through the band join's shuffle; they
    // are joined back just for the verification of the (few) candidates.
    val b = bands(sigs).select($"doc_id", $"band", $"band_hash")
    val a = b.select($"doc_id".as("doc_a"), $"band", $"band_hash")
    val c = b.select($"doc_id".as("doc_b"), $"band", $"band_hash")
    val pairs = a.join(c, Seq("band", "band_hash"))
      .filter($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b")
      .dropDuplicates("doc_a", "doc_b")
    // signature lookup for verification: UNHINTED equi-joins on doc id.
    // A one-row-per-document signature table is NOT broadcast-bounded —
    // at 100 TB it is itself TB-scale — so the strategy is left to AQE:
    // it broadcasts at small scale (same plan as a hint today) and falls
    // back to a shuffled hash join at scale instead of OOMing the driver.
    pairs
      .join(sigs.select($"doc_id".as("doc_a"), $"sig".as("sig_a")), "doc_a")
      .join(sigs.select($"doc_id".as("doc_b"), $"sig".as("sig_b")), "doc_b")
      .select($"doc_a", $"doc_b",
        round(estJaccard($"sig_a", $"sig_b"), 4).as("est_jaccard"))
      .filter($"est_jaccard" >= threshold)
      .orderBy($"doc_a", $"doc_b")
  }
}
